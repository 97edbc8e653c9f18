#!/usr/bin/env python3
"""Self-test of the benchmark's input generators.

    python3 perfbench/selftest.py

The same seed must give byte-identical inputs and a different seed must
give different ones, for every seeded generator. Also checks the DuckDB
twins the search checker relies on against a few hand-computed answers
on the sf0.001 corpus. Exits non-zero on the first failure.
"""
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "selftest")


def tree_digest(d):
    h = hashlib.sha1()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def syslog(seed, tag):
    d = os.path.join(SCRATCH, tag)
    expected = gen.syslog_dir(seed, d, n_files=4, lines_per_file=500)
    return tree_digest(d), expected


def check(cond, what):
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    check(gen.search_requests(7, 300) == gen.search_requests(7, 300),
          "search: same seed, same requests")
    check(gen.search_requests(7, 300) != gen.search_requests(8, 300),
          "search: different seed, different requests")

    a, b, c = syslog(7, "a"), syslog(7, "b"), syslog(8, "c")
    check(a == b, "ingest: same seed, identical syslog bytes and counts")
    check(a[0] != c[0], "ingest: different seed, different syslog bytes")
    check(gen.cdc(7, 2000, 5) == gen.cdc(7, 2000, 5), "ingest: same seed, same CDC batches")
    check(gen.cdc(7, 2000, 5)[1] != gen.cdc(8, 2000, 5)[1],
          "ingest: different seed, different CDC batches")
    _, batches, expected = gen.cdc(7, 2000, 5)
    check(all(len({k for _, k, _, _ in b}) == len(b) for b in batches),
          "ingest: one op per key in every CDC batch")
    check(sum(r for r, _ in expected[-1].values()) ==
          2000 + sum((op == "I") - (op == "D") for b in batches for op, *_ in b),
          "ingest: expected row count follows the ops")

    con = oracle.connect(os.path.join(HERE, "corpus", "sf0.001"))
    n_err = con.execute("SELECT count(*) FROM events WHERE event_type = 'error'").fetchone()[0]
    got = oracle.answer(con, oracle.search_sql({"cls": "kw", "keyword": "ERROR"}))
    check(len(got["rows"]) == min(20, n_err) and got["cols"] == sorted(got["cols"]),
          "oracle: keyword twin lower-cases, limits to 20 and sorts columns")
    slo = oracle.answer(con, oracle.search_sql({"cls": "report", "report": "slo"}))
    check(sum(r[slo["cols"].index("n")] for r in slo["rows"]) ==
          con.execute("SELECT count(*) FROM events").fetchone()[0],
          "oracle: slo twin covers every event")
    check(oracle.compare({"cols": ["a"], "rows": [[1.5]]}, {"cols": ["a"], "rows": [[1.5]]}) is None
          and oracle.compare({"cols": ["a"], "rows": [[1.5]]}, {"cols": ["a"], "rows": [[1.25]]})
          and oracle.compare({"cols": ["a"], "rows": [["NaN"]]}, {"cols": ["a"], "rows": [["NaN"]]})
          is None, "oracle: exact value compare, NaN equals NaN")
    con.close()
    shutil.rmtree(SCRATCH)
    print("selftest passed")


if __name__ == "__main__":
    main()
