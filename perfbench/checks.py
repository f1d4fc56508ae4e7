"""Correctness checks of the benchmark, computed apart from the engine.

Every check takes what the engine answered (recorded during the timed
window) and what the generator and ``oracle.py`` say, and returns a list
of error strings: empty means correct. They run after the timed window,
so their cost is outside every metric. ``selftest.py`` shows that each
one rejects a wrong answer.
"""

from __future__ import annotations

from posik_engine_spark.functions.tokenizer import tokenize_py
from posik_engine_spark.oracle import SearchError, oracle_search

from gen import sha256_text


def query_record(query: str, repo: str | None, resp) -> dict:
    """What one ``SearchEngine.search`` call answered, in plain data."""
    return {
        "query": query,
        "repo": repo,
        "hits": [(int(h[0]), float(h[6]), h[1], h[2]) for h in resp.hits],
        "terms": list(resp.surviving_terms),
        "error": None,
    }


def error_record(query: str, repo: str | None, exc: BaseException) -> dict:
    return {"query": query, "repo": repo, "hits": [], "terms": [],
            "error": f"{type(exc).__name__}: {exc}"}


def check_query(rec: dict, oix, files_by_id: dict[int, dict],
                stored: dict[int, str], limit: int) -> list[str]:
    """One query's answer against the oracle and the generator.

    - top-k (doc_id, score) equals ``oracle_search`` exactly, and so do
      the surviving terms;
    - scores do not increase down the list;
    - every hit's file contains every surviving term;
    - the content the store holds for every hit (``stored``: doc_id ->
      content) hashes to the generator's sha256 of that file.
    """
    where = f"query {rec['query']!r} repo={rec['repo']}"
    try:
        want, want_terms = oracle_search(oix, rec["query"], repo=rec["repo"],
                                         limit=limit)
    except SearchError as e:
        if rec["error"] is not None:
            return []
        return [f"{where}: engine answered, oracle says {e}"]
    if rec["error"] is not None:
        return [f"{where}: engine failed: {rec['error']}"]
    errs = []
    got = [(d, s) for d, s, _, _ in rec["hits"]]
    if got != want:
        errs.append(f"{where}: top-k {got[:3]}... != oracle {want[:3]}...")
    if rec["terms"] != want_terms:
        errs.append(f"{where}: terms {rec['terms']} != oracle {want_terms}")
    scores = [s for _, s in got]
    if any(b > a for a, b in zip(scores, scores[1:])):
        errs.append(f"{where}: scores increase down the list")
    for d, _, repo, path in rec["hits"]:
        f = files_by_id.get(d)
        if f is None:
            errs.append(f"{where}: hit {d} is no file of the corpus")
            continue
        if (repo, path) != (f["repo"], f["path"]):
            errs.append(f"{where}: hit {d} names {repo}/{path}, "
                        f"the file is {f['repo']}/{f['path']}")
        toks = set(tokenize_py(f["path"])) | set(tokenize_py(f["content"]))
        missing = [t for t in rec["terms"] if t not in toks]
        if missing:
            errs.append(f"{where}: hit {d} lacks terms {missing}")
        if d not in stored:
            errs.append(f"{where}: hit {d} has no stored content")
        elif sha256_text(stored[d]) != sha256_text(f["content"]):
            errs.append(f"{where}: hit {d} content hash differs")
    return errs


def check_repeats(records: list[dict]) -> list[str]:
    """Repeats of one query must answer exactly as its first run."""
    first: dict[tuple, dict] = {}
    errs = []
    for r in records:
        key = (r["query"], r["repo"])
        f = first.setdefault(key, r)
        if (r["hits"], r["terms"], r["error"]) != (f["hits"], f["terms"],
                                                   f["error"]):
            errs.append(f"query {r['query']!r}: a repeat answered differently")
    return errs


def check_build(counters: dict, marker_df_engine: dict[str, int],
                n_files: int, marker_df: dict[str, int]) -> list[str]:
    """Build counters and planted-marker document frequencies against
    the generator's counts."""
    errs = []
    if counters.get("docs_tokenized") != n_files:
        errs.append(f"docs_tokenized {counters.get('docs_tokenized')} "
                    f"!= {n_files} files")
    for term, df in marker_df.items():
        got = marker_df_engine.get(term)
        if got != df:
            errs.append(f"marker {term}: engine df {got} != generator {df}")
    return errs


def check_store(stored: dict[int, str], files_by_id: dict[int, dict]) -> list[str]:
    """Every file's stored content hashes as the generator's."""
    errs = []
    for d, f in files_by_id.items():
        if d not in stored:
            errs.append(f"file {f['repo']}/{f['path']} missing from the store")
        elif sha256_text(stored[d]) != sha256_text(f["content"]):
            errs.append(f"file {f['repo']}/{f['path']}: content hash differs")
    return errs
