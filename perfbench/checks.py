"""Output checks. Each takes what the program produced (already collected
to plain Python values) and what it should have produced, and returns a
`Tally` of items checked and items wrong; `error_rate` is failed over
attempted. `self_test` shows that every check catches a corrupted output.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def add(self, other: "Tally") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems.extend(other.problems[: 20 - len(self.problems)])


def check_bulk(got: dict, want: dict) -> Tally:
    """One `run_epoch` result: counts, the digest of the fresh keys and
    the depth of every fresh row."""
    t = Tally()
    for key in ("scheduled", "deduped_new", "queue_size", "seen_size", "fresh_digest"):
        t.check(got[key] == want[key], f"epoch {key}: {got[key]!r} != {want[key]!r}")
    t.check(got["fresh_depths"] == {1}, f"fresh depths {got['fresh_depths']}")
    return t


def check_crawl(got_schedules, got_seen, want_schedules, want_seen) -> Tally:
    """Per-epoch schedules and the final seen set against the simulator."""
    t = Tally()
    t.check(
        len(got_schedules) == len(want_schedules),
        f"{len(got_schedules)} epochs != {len(want_schedules)}",
    )
    for e, (g, w) in enumerate(zip(got_schedules, want_schedules)):
        t.check(g == w, f"epoch {e} schedule differs ({len(g)} vs {len(w)} rows)")
    t.check(got_seen == want_seen, f"seen set differs ({len(got_seen)} vs {len(want_seen)})")
    return t


def check_index(index_rows, where: dict) -> Tally:
    """`warc_index` rows: one per record written, each at the file and
    offset the writer used."""
    t = Tally()
    t.check(len(index_rows) == len(where), f"{len(index_rows)} index rows != {len(where)}")
    for url, name, offset in index_rows:
        t.check(
            where.get(url) == (name, offset),
            f"index {url}: {(name, offset)} != {where.get(url)}",
        )
    return t


def check_texts(texts: dict, want_texts: dict) -> Tally:
    """Every extracted text byte-identical to `pages.text`."""
    t = Tally()
    t.check(len(texts) == len(want_texts), f"{len(texts)} texts != {len(want_texts)}")
    for url, want in want_texts.items():
        t.check(texts.get(url) == want, f"text of {url} differs")
    return t


def check_parse_errors(n_error_records: int, n_records: int) -> Tally:
    t = Tally(attempted=n_records)
    if n_error_records:
        t.failed = n_error_records
        t.problems.append(f"{n_error_records} records with parse errors")
    return t


def check_rewrite(records, want_texts: dict) -> Tally:
    """The rewritten archive, parsed back: one record per input record,
    each holding the decoded HTTP message, whose body is the page text
    byte for byte (chunking stripped, gzip inflated)."""
    t = Tally()
    t.check(len(records) == len(want_texts), f"{len(records)} rewritten != {len(want_texts)}")
    for url, content, errors in records:
        head, _, body = content.partition(b"\r\n\r\n")
        want = want_texts.get(url)
        t.check(
            not errors and head.startswith(b"HTTP/") and want is not None
            and body == want.encode("utf-8"),
            f"rewritten {url} differs",
        )
    return t


def check_tasks(failed_tasks: int, retried_stages: int, tasks: int) -> Tally:
    t = Tally(attempted=max(tasks, 1))
    if failed_tasks or retried_stages:
        t.failed = failed_tasks + retried_stages
        t.problems.append(f"{failed_tasks} failed tasks, {retried_stages} stage retries")
    return t


def self_test() -> list[str]:
    """Feed each check a correct output and one corrupted copy; return the
    names of checks that passed the corruption (should be empty)."""
    fresh = ["%040x" % i for i in range(5)]
    want_bulk = {
        "scheduled": 10,
        "deduped_new": 5,
        "queue_size": 5,
        "seen_size": 9,
        "fresh_digest": "d",
    }
    good_bulk = dict(want_bulk, fresh_depths={1})
    schedules = [["http://a/1", "http://a/2"], ["http://a/3"]]
    seen = set(fresh)
    where = {"http://a/1": ("f0", 0), "http://a/2": ("f0", 120)}
    index = [("http://a/1", "f0", 0), ("http://a/2", "f0", 120)]
    texts = {"http://a/1": "<html>one</html>", "http://a/2": "<html>two</html>"}
    rewritten = [
        (u, b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n%s" % (len(s), s.encode()), [])
        for u, s in texts.items()
    ]

    def flip(s: str) -> str:
        return s[:-1] + chr(ord(s[-1]) ^ 1)

    cases = {
        "bulk.count": (check_bulk, (dict(good_bulk, deduped_new=4), want_bulk)),
        "bulk.digest": (check_bulk, (dict(good_bulk, fresh_digest="e"), want_bulk)),
        "bulk.depth": (check_bulk, (dict(good_bulk, fresh_depths={1, 2}), want_bulk)),
        "crawl.dropped_schedule_row": (
            check_crawl,
            ([schedules[0][:1], schedules[1]], seen, schedules, seen),
        ),
        "crawl.seen": (check_crawl, (schedules, seen - {fresh[0]}, schedules, seen)),
        "archive.offset": (
            check_index,
            ([index[0], ("http://a/2", "f0", 121)], where),
        ),
        "archive.text_byte": (
            check_texts,
            ({u: (flip(s) if u == "http://a/2" else s) for u, s in texts.items()}, texts),
        ),
        "archive.parse_errors": (check_parse_errors, (1, 2)),
        "archive.rewrite_byte": (
            check_rewrite,
            ([rewritten[0], (rewritten[1][0], rewritten[1][1][:-1] + b"X", [])], texts),
        ),
        "spark.failed_task": (check_tasks, (1, 0, 10)),
    }
    clean = {
        "bulk": check_bulk(good_bulk, want_bulk),
        "crawl": check_crawl(schedules, seen, schedules, seen),
        "index": check_index(index, where),
        "texts": check_texts(dict(texts), texts),
        "rewrite": check_rewrite(rewritten, texts),
        "tasks": check_tasks(0, 0, 10),
    }
    missed = [name for name, t in clean.items() if t.failed]
    for name, (fn, args) in cases.items():
        if fn(*args).failed == 0:
            missed.append(name)
    return missed
