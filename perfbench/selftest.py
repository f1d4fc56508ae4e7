"""Self-test of the benchmark's checks and generator, at tiny size.

    python3 perfbench/selftest.py

Runs in a second or two without a Spark session. It shows that:

- the generator gives the same corpus for a seed and another for
  another seed;
- each check accepts the right answer and rejects a wrong one: a
  changed score, a dropped hit, a hit on a file that is not (or no
  longer) in the corpus, a hit lacking a query term, a wrong content
  hash, a repeat that answers differently, a wrong document count and a
  wrong marker document frequency.

Exit code 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from checks import (  # noqa: E402
    check_build, check_query, check_repeats, check_store,
)
from gen import CorpusSpec, make_corpus  # noqa: E402
from posik_engine_spark.oracle import (  # noqa: E402
    build_oracle_index, oracle_search,
)

SPEC = CorpusSpec(n_files=80, n_repos=4, vocab=200, n_idents=300,
                  median_bytes=300, n_markers=5, n_topical=1)
LIMIT = 5
failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def main() -> int:
    a, b, c = (make_corpus(s, SPEC) for s in (11, 11, 12))
    expect(a.files == b.files and a.marker_df == b.marker_df,
           "generator: same seed, same corpus")
    expect(a.files != c.files, "generator: other seed, other corpus")

    files_by_id = dict(enumerate(a.files))
    oix = build_oracle_index([dict(f, doc_id=d) for d, f in files_by_id.items()])
    stored = {d: f["content"] for d, f in files_by_id.items()}
    # a query with several hits: two words of mid document frequency
    df = sorted((len(p), t) for t, p in oix.postings.items()
                if t in set(a.vocabulary))
    mid = [t for n, t in df if 0.3 * oix.n_docs <= n <= 0.8 * oix.n_docs]
    query = f"{mid[0]} {mid[-1]}"
    hits, terms = oracle_search(oix, query, limit=LIMIT)
    expect(len(hits) >= 2, f"tiny corpus query {query!r} has >= 2 hits")

    def record(pairs):
        return {"query": query, "repo": None, "terms": list(terms),
                "error": None,
                "hits": [(d, s, files_by_id[d]["repo"], files_by_id[d]["path"])
                         if d in files_by_id else (d, s, "gone", "gone")
                         for d, s in pairs]}

    def rejects(rec, what, reason, store=stored):
        errs = check_query(rec, oix, files_by_id, store, LIMIT)
        expect(any(reason in e for e in errs),
               f"check_query rejects {what} ({reason!r})")

    expect(check_query(record(hits), oix, files_by_id, stored, LIMIT) == [],
           "check_query accepts the oracle's answer")
    d0, s0 = hits[0]
    rejects(record([(d0, math.nextafter(s0, math.inf))] + hits[1:]),
            "a score one ulp off", "top-k")
    rejects(record(hits[:-1]), "a dropped hit", "top-k")
    rejects(record(hits[:-1] + [(max(files_by_id) + 1, hits[-1][1])]),
            "a hit on a file not in the corpus (deleted, still visible)",
            "no file of the corpus")
    lacking = next(d for d in files_by_id if d not in oix.postings[terms[0]])
    rejects(record(hits[:-1] + [(lacking, hits[-1][1])]),
            "a hit on a file lacking a query term", "lacks terms")
    bad_store = dict(stored)
    bad_store[d0] = stored[d0] + " "
    rejects(record(hits), "a wrong content hash", "content hash", bad_store)
    rejects(record(list(reversed(hits))), "scores increasing down the list",
            "scores increase")

    same = record(hits)
    expect(check_repeats([same, record(hits)]) == [],
           "check_repeats accepts an identical repeat")
    expect(bool(check_repeats([same, record(hits[:-1])])),
           "check_repeats rejects a repeat that answers differently")

    counters = {"docs_tokenized": len(a.files)}
    expect(check_build(counters, dict(a.marker_df), len(a.files),
                       a.marker_df) == [], "check_build accepts right counts")
    expect(bool(check_build({"docs_tokenized": len(a.files) - 1},
                            dict(a.marker_df), len(a.files), a.marker_df)),
           "check_build rejects a wrong document count")
    off = dict(a.marker_df)
    first = next(iter(off))
    off[first] += 1
    expect(bool(check_build(counters, off, len(a.files), a.marker_df)),
           "check_build rejects a wrong marker document frequency")
    expect(all(len(oix.postings.get(t, {})) == n for t, n in a.marker_df.items()),
           "generator marker counts equal the oracle's document frequencies")

    expect(check_store(stored, files_by_id) == [],
           "check_store accepts the generator's content")
    expect(bool(check_store(bad_store, files_by_id)),
           "check_store rejects a wrong content hash")
    missing = dict(stored)
    del missing[d0]
    expect(bool(check_store(missing, files_by_id)),
           "check_store rejects a missing file")

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
