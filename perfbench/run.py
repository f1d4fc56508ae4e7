"""Build and serve benchmark of posik_engine_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload {build,serve} --seed N \
        --seconds S --trace {0,1}

Each run is one fresh process with its own Spark session. It generates
its corpus from ``--seed`` (``gen.py``), sets up, measures for about
``--seconds`` seconds, checks every answer against the generator and
``oracle.py`` (``checks.py``), and prints a summary followed by one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run wraps the engine's layer functions (``spans.py``) and the
metrics are the per-layer ones. See README.md for what each one means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SHARDS = 4
CS_BUCKETS = 8
LIMIT = 20
# files per corpus: the serve workload builds one index in set-up; the
# build workload warms the session up with WARMUP_BUILDS untimed builds
# of the same corpus, then times full builds. Measured in one session:
# 18.5, 8.9, 8.2, 8.1, 8.2, 8.4, 8.2 s. After one warm-up the timed build
# still burns about 16% more CPU (compilation) than from the third on.
N_FILES = 1000
WARMUP_BUILDS = 2
# serve: one round of the closed-loop client
ROUND_HOT, ROUND_WIDE, ROUND_SCOPED = 16, 8, 2
PHASES = ("hot", "wide", "scoped")
UNSCOPED_PHASES = ("hot", "wide")


# ----------------------------------------------------------------- helpers
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); (0, 0) below forty samples."""
    n = len(xs)
    if n < 40:
        return 0.0, 0
    pct = max(p for p in (75, 90, 95, 99, 99.9)
              if n - int(n * p / 100) >= 10)
    s = sorted(xs)
    return s[min(n - 1, int(n * pct / 100))], pct


def du(path: str) -> int:
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
    return total


def proc_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of a process and its descendants (live ones, plus the
    reaped children each live process has waited for), from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        stats[int(name)] = raw[raw.rindex(")") + 2:].split()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is None:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo += children.get(pid, [])
    return total / tick


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --------------------------------------------------------------------- run
class Run:
    """State of one benchmark run: work dir, Spark session, timers,
    operation counts and the tracer."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.check_s = 0.0  # wall and CPU of check-only work before measuring
        self.check_cpu_s = 0.0
        self.setup_wall_s = 0.0
        self.ops: dict[str, list[int]] = {}
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.spark = None
        self.jvm_pid = None
        self._group = 0

    # -- session
    def start_spark(self) -> None:
        import tempfile

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        tempfile.tempdir = tmp
        t0 = time.perf_counter()
        from posik_engine_spark import get_spark

        cpus = nproc()
        self.spark = get_spark(
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — must not leave the JVM
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- accounting
    def count(self, op: str, failed: bool = False) -> None:
        a = self.ops.setdefault(op, [0, 0])
        a[0] += 1
        a[1] += int(failed)

    def fail(self, op: str, errs: list[str]) -> None:
        """Turn one recorded success of ``op`` into a failure."""
        self.ops[op][1] += 1
        self.errors += errs

    def job_group(self) -> str | None:
        if not self.trace:
            return None
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def jobs(self, gid: str | None) -> int:
        if gid is None:
            return 0
        sc = self.spark.sparkContext
        n = len(sc.statusTracker().getJobIdsForGroup(gid))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return n

    def cpu_s(self) -> float:
        return proc_tree_cpu_s(os.getpid())

    def start_measure(self) -> tuple[float, float]:
        """End of set-up: returns (now, set-up CPU seconds) and keeps the
        set-up wall seconds; both leave out check-only work."""
        now = time.perf_counter()
        self.setup_wall_s = now - T_START - self.check_s
        return now, self.cpu_s() - self.check_cpu_s

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + (vm_hwm_mb(self.jvm_pid)
                                    if self.jvm_pid else 0.0)


# ------------------------------------------------------------------ corpus
def write_source(files: list[dict], path: str, parts: int) -> None:
    """The corpus as ``parts`` parquet files, so the build's map side
    starts with one task per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    tbl = pa.Table.from_pylist(
        files, schema=pa.schema([(c, pa.string()) for c in
                                 ("repo", "path", "commit", "lang", "content")]))
    n = len(files)
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        pq.write_table(tbl.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def doc_ids(run: Run, files: list[dict]) -> dict[tuple, int]:
    """(repo, path, commit) -> the Spark xxhash64 doc_id, computed by a
    Spark SQL built-in on the generator's keys (not by the engine)."""
    from pyspark.sql import functions as F

    keys = [(f["repo"], f["path"], f["commit"]) for f in files]
    df = run.spark.createDataFrame(keys, "repo string, path string, commit string")
    rows = df.select("repo", "path", "commit",
                     F.xxhash64("repo", "path", "commit").alias("d")).collect()
    return {(r["repo"], r["path"], r["commit"]): int(r["d"]) for r in rows}


def oracle_for(files: list[dict], ids: dict[tuple, int]):
    from posik_engine_spark.oracle import build_oracle_index

    rows = [dict(f, doc_id=ids[(f["repo"], f["path"], f["commit"])])
            for f in files]
    return build_oracle_index(rows), {r["doc_id"]: r for r in rows}


# ------------------------------------------------------------------ build
def build_index(run: Run, docs, tag: str, trace_build: bool) -> dict:
    """IndexBuilder.build + save_content_store into fresh dirs; returns
    timings and the builder."""
    from posik_engine_spark import IndexBuilder, save_content_store

    ixdir = os.path.join(run.work, f"ix_{tag}")
    csdir = os.path.join(run.work, f"cs_{tag}")
    gid = run.job_group() if trace_build else None
    cpu0 = run.cpu_s()
    t0 = time.perf_counter()
    b = IndexBuilder(run.spark, ixdir, n_shards=N_SHARDS)
    ix = b.build(docs)
    t1 = time.perf_counter()
    save_content_store(docs, csdir, n_buckets=CS_BUCKETS)
    t2 = time.perf_counter()
    out = {"builder": b, "index": ix, "ixdir": ixdir, "csdir": csdir,
           "build_s": t1 - t0, "cs_s": t2 - t1, "op_s": t2 - t0,
           "cpu_s": run.cpu_s() - cpu0}
    if trace_build:
        out["jobs"] = run.jobs(gid)
    return out


def build_layers(run: Run, bi: dict, n_files: int) -> None:
    from posik_engine_spark.operators.lifecycle import read_lineage

    L = run.layer
    stage = {}
    for rec in read_lineage(bi["ixdir"]):
        if rec["state"] == "DONE":
            name = "blocks" if rec["stage"].startswith("blocks") else rec["stage"]
            stage[name] = stage.get(name, 0.0) + rec["finished_at"] - rec["started_at"]
    L["lifecycle.prepare_s"] = stage.get("prepare", 0.0)
    L["lifecycle.stats_s"] = stage.get("stats", 0.0)
    L["lifecycle.blocks_s"] = stage.get("blocks", 0.0)
    L["lifecycle.build_cpu_s"] = bi["cpu_s"]
    L["lifecycle.build_cpu_utilization"] = bi["cpu_s"] / (bi["op_s"] * nproc())
    L["lifecycle.build_spark_jobs"] = bi.get("jobs", 0)
    c = bi["builder"].counters()
    L["build.docs_tokenized"] = c.get("docs_tokenized", 0)
    L["build.postings_emitted"] = c.get("postings_emitted", 0)
    L["build.terms"] = c.get("terms", 0)
    L["build.files_per_s"] = n_files / bi["build_s"]
    L["index.blocks_merged"] = c.get("blocks_merged", 0)
    for t in ("blocks", "tf", "doc_stats", "term_stats"):
        L[f"index.{t}_bytes"] = du(os.path.join(bi["ixdir"], t))
    L["content_store.write_s"] = bi["cs_s"]
    L["content_store.bytes"] = du(bi["csdir"])


def setup_corpus(run: Run):
    from gen import CorpusSpec, make_corpus

    corpus = make_corpus(run.args.seed, CorpusSpec(n_files=N_FILES))
    src = os.path.join(run.work, "src")
    write_source(corpus.files, src, 2 * nproc())
    return corpus, src


def run_build(run: Run) -> dict:
    from checks import check_build, check_store
    from posik_engine_spark import ContentStore

    corpus, src = setup_corpus(run)
    run.start_spark()
    docs = run.spark.read.parquet(src)
    for k in range(WARMUP_BUILDS):
        build_index(run, docs, f"warmup{k}", False)
    t_measure, setup_s = run.start_measure()
    builds = []
    while True:
        bi = build_index(run, docs, f"t{len(builds)}", run.trace)
        builds.append(bi)
        run.count("build")
        spent = time.perf_counter() - t_measure
        if spent + bi["op_s"] > run.args.seconds:
            break
    last = builds[-1]
    build_layers(run, last, len(corpus.files))

    # checks (after the timed window)
    ids = doc_ids(run, corpus.files)
    files_by_id = {ids[(f["repo"], f["path"], f["commit"])]: f
                   for f in corpus.files}
    for bi in builds:
        info = bi["index"].term_info(list(corpus.marker_df))
        errs = check_build(bi["builder"].counters(),
                           {t: v[1] for t, v in info.items()},
                           len(corpus.files), corpus.marker_df)
        store = ContentStore(run.spark, bi["csdir"]).fetch(list(files_by_id))
        errs += check_store({d: r["content"] for d, r in store.items()},
                            files_by_id)
        if errs:
            run.fail("build", errs)
    return {
        "setup_s": setup_s,
        "op_ms": p50([b["op_s"] * 1e3 for b in builds]),
        "op_cpu_s": p50([b["cpu_s"] for b in builds]),
        "bytes_per_source_byte": (du(last["ixdir"]) + du(last["csdir"]))
        / corpus.source_bytes(),
        "summary": {
            "build_files_per_s": (len(corpus.files) / p50(
                [b["build_s"] for b in builds]), "1/s"),
        },
    }


# ------------------------------------------------------------------ queries
class QueryPlan:
    """The serve workload's queries, chosen from the generator's planted
    terms and the oracle's document frequencies so that every query has
    hits (no operation fails on a correct engine)."""

    def __init__(self, corpus, oix, seed: int):
        import numpy as np
        from posik_engine_spark import spec
        from posik_engine_spark.oracle import SearchError, oracle_search

        rng = np.random.default_rng(seed + 7919)
        n = oix.n_docs
        vocab = set(corpus.vocabulary)
        df = {t: len(p) for t, p in oix.postings.items()}
        words = sorted(t for t in df if not t.startswith("zq")
                       and not t.isdigit())

        def near(share: float, k: int, pool=words) -> list[str]:
            """The k terms whose document frequency is closest to
            ``share`` of the files: every seed's queries then cost about
            the same, whichever words the seed drew."""
            return sorted(pool, key=lambda t: (abs(df[t] - share * n), t))[:k]

        common = near(0.5, 24, sorted(vocab & set(df)))
        mid = near(0.1, 24)
        head = near(0.3, 240)
        stopped = sorted(t for t in vocab if df.get(t, 0) >= spec.THETA * n)

        def pick(pool, k=1):
            return [pool[int(i)] for i in rng.choice(len(pool), k, replace=False)]

        def ok(q, repo=None) -> bool:
            try:
                oracle_search(oix, q, repo=repo, limit=LIMIT)
                return True
            except SearchError:
                return False

        used: set[str] = set()
        hot: list[str] = []
        rare_repos = sorted(r for r, t in corpus.rare_terms.items() if t in df)
        kinds = ["rare", "focus", "pair", "pair", "three", "four", "relax",
                 "stop"]
        while len(hot) < ROUND_HOT:
            kind = kinds[len(hot) % len(kinds)]
            if kind == "rare":
                q = [corpus.rare_terms[pick(rare_repos)[0]], *pick(common)]
            elif kind == "focus":
                q = [pick(corpus.focus_terms)[0], *pick(common)]
            elif kind == "pair":
                q = pick(common, 2)
            elif kind == "three":
                q = pick(common, 2) + pick(mid)
            elif kind == "four":
                q = pick(common, 3) + pick(mid)
            elif kind == "relax":
                q = [f"zqx{len(hot)}", *pick(mid)]
            else:
                q = (pick(stopped) if stopped else []) + pick(mid)
            text = " ".join(q)
            if text not in hot and ok(text):
                hot.append(text)
                used.update(q)
        self.hot = hot
        # wide: first-seen two-term queries over head terms never queried
        # before in the run (block-cache misses -> direct reads)
        fresh = [t for t in head if t not in used]
        order = [fresh[int(i)] for i in rng.permutation(len(fresh))]
        self.wide: list[str] = []
        self.warm_wide: list[str] = []
        for a, b in zip(order[0::2], order[1::2]):
            text = f"{a} {b}"
            if ok(text):
                (self.warm_wide if len(self.warm_wide) < 4
                 else self.wide).append(text)
        # scoped: repo= queries (the distributed rows path) on repos of
        # fixed size rank: the largest, 2nd, 4th and 8th
        sizes: dict[str, int] = {}
        for f in corpus.files:
            sizes[f["repo"]] = sizes.get(f["repo"], 0) + 1
        by_size = sorted(sizes, key=lambda r: (-sizes[r], r))
        self.scoped: list[tuple[str, str]] = []
        while len(self.scoped) < 4:
            repo = by_size[(1 << len(self.scoped)) - 1]
            text = " ".join(pick(common, 2))
            if (text, repo) not in self.scoped and ok(text, repo):
                self.scoped.append((text, repo))


def timed_search(run: Run, engine, phase: str, query: str,
                 repo: str | None, lat: dict, recs: dict) -> None:
    from checks import error_record, query_record

    if run.tracer is not None:
        run.tracer.phase = phase
        run.tracer.qid += 1
    gid = run.job_group()
    t0 = time.perf_counter()
    try:
        resp = engine.search(query, repo=repo, limit=LIMIT)
        rec = query_record(query, repo, resp)
    except Exception as e:  # noqa: BLE001 — a failed query is counted
        rec = error_record(query, repo, e)
    dt = time.perf_counter() - t0
    if gid is not None:
        rec["jobs"] = run.jobs(gid)
    lat.setdefault(phase, []).append(dt * 1e3)
    recs.setdefault(phase, []).append(rec)
    run.count(phase, failed=rec["error"] is not None)


def check_queries(run: Run, recs: dict, oix, files_by_id, csdir: str) -> None:
    """Every distinct query against the oracle; repeats against their
    first answer; each wrong record counts as a failed operation."""
    from checks import check_query, check_repeats
    from posik_engine_spark import ContentStore

    ids = {h[0] for rs in recs.values() for r in rs for h in r["hits"]}
    store = ContentStore(run.spark, csdir).fetch(sorted(ids))
    stored = {d: r["content"] for d, r in store.items()}
    verdict: dict[tuple, list[str]] = {}
    first: dict[tuple, dict] = {}
    for phase, rs in recs.items():
        for r in rs:
            key = (r["query"], r["repo"])
            if key not in verdict:
                first[key] = r
                verdict[key] = check_query(r, oix, files_by_id, stored, LIMIT)
            errs = verdict[key] + check_repeats([first[key], r])
            if errs and r["error"] is None:
                run.fail(phase, errs)
            elif errs:
                run.errors += errs


def open_engine(run: Run, ixdir: str, csdir: str):
    from posik_engine_spark import SearchEngine

    t0 = time.perf_counter()
    eng = SearchEngine.from_index_dir(run.spark, ixdir, content_dir=csdir)
    return eng, time.perf_counter() - t0


def run_serve(run: Run) -> dict:
    corpus, src = setup_corpus(run)
    run.start_spark()
    docs = run.spark.read.parquet(src)
    bi = build_index(run, docs, "s", run.trace)
    # check-only preparation: ids, oracle, query choice
    t0, c0 = time.perf_counter(), run.cpu_s()
    ids = doc_ids(run, corpus.files)
    oix, files_by_id = oracle_for(corpus.files, ids)
    plan = QueryPlan(corpus, oix, run.args.seed)
    run.check_s += time.perf_counter() - t0
    run.check_cpu_s += run.cpu_s() - c0
    engine, open_s = open_engine(run, bi["ixdir"], bi["csdir"])
    run.layer["index.open_s"] = open_s
    # warm pass: hot set, scoped set and a few wide-shaped queries
    warm_lat: dict = {}
    warm_recs: dict = {}
    for q in plan.hot + plan.warm_wide:
        timed_search(run, engine, "warm", q, None, warm_lat, warm_recs)
    for q, repo in plan.scoped:
        timed_search(run, engine, "warm", q, repo, warm_lat, warm_recs)
    if run.trace:
        from spans import Tracer

        run.tracer = Tracer()
        run.tracer.install()
    t_measure, setup_s = run.start_measure()
    lat: dict = {}
    recs: dict = {}
    rounds: list[float] = []
    round_cpu: list[float] = []
    wide_at = 0
    while wide_at + ROUND_WIDE <= len(plan.wide):
        c0 = run.cpu_s()
        r0 = time.perf_counter()
        for q in plan.hot:
            timed_search(run, engine, "hot", q, None, lat, recs)
        for q in plan.wide[wide_at:wide_at + ROUND_WIDE]:
            timed_search(run, engine, "wide", q, None, lat, recs)
        wide_at += ROUND_WIDE
        k = len(rounds) * ROUND_SCOPED
        for j in range(ROUND_SCOPED):
            q, repo = plan.scoped[(k + j) % len(plan.scoped)]
            timed_search(run, engine, "scoped", q, repo, lat, recs)
        rounds.append(time.perf_counter() - r0)
        round_cpu.append(run.cpu_s() - c0)
        spent = time.perf_counter() - t_measure
        if spent + rounds[-1] > run.args.seconds:
            break
    if run.tracer is not None:
        run.tracer.uninstall()
    engine.close()
    build_layers(run, bi, len(corpus.files))
    run.ops.pop("warm", None)
    check_queries(run, recs, oix, files_by_id, bi["csdir"])
    query_layers(run, lat, recs, oix)
    summary = working_sets(recs, oix, files_by_id)
    for ph in ("hot", "wide", "scoped"):
        summary[f"{ph}_query_p50_ms"] = (p50(lat.get(ph, [])), "ms")
        tv, pct = tail(lat.get(ph, []))
        if pct:
            summary[f"{ph}_query_tail_ms"] = (
                tv, f"ms (p{pct} of {len(lat[ph])})")
    src_bytes = corpus.source_bytes()
    return {
        "setup_s": setup_s,
        "op_ms": p50([r * 1e3 for r in rounds]),
        "op_cpu_s": p50(round_cpu),
        "bytes_per_source_byte": (du(bi["ixdir"]) + du(bi["csdir"])) / src_bytes,
        "summary": summary,
    }


def working_sets(recs: dict, oix, files_by_id: dict) -> dict:
    """Postings and content bytes each phase touched (distinct terms'
    document frequencies, distinct hits' content), beside the engine's
    driver cache budgets."""
    from posik_engine_spark import spec

    out = {
        "block_cache_budget_postings": (
            spec.DRIVER_BLOCK_CACHE_MAX_POSTINGS, "postings"),
        "content_cache_budget_bytes": (
            spec.DRIVER_CONTENT_CACHE_MAX_BYTES, "bytes"),
    }
    for ph in ("hot", "wide"):
        rs = recs.get(ph, [])
        terms = {t for r in rs for t in r["terms"]}
        docs = {h[0] for r in rs for h in r["hits"]}
        out[f"{ph}_postings"] = (
            sum(len(oix.postings.get(t, {})) for t in terms), "postings")
        out[f"{ph}_content_bytes"] = (sum(
            len(files_by_id[d]["content"].encode("utf-8"))
            for d in docs if d in files_by_id), "bytes")
    return out


# ------------------------------------------------------------ layer maths
def query_layers(run: Run, lat: dict, recs: dict, oix) -> None:
    """Per-phase per-layer numbers from the spans (traced runs) and the
    recorded answers. Phases a workload does not run report 0."""
    from posik_engine_spark.functions.tokenizer import tokenize_py
    from posik_engine_spark.oracle import filter_query_terms

    L = run.layer
    tr = run.tracer
    total_term_info = 0
    for ph in PHASES:
        rs = recs.get(ph, [])
        n = max(1, len(rs))
        L[f"search.latency_ms.{ph}"] = p50(lat.get(ph, []))
        relax = [len(filter_query_terms(oix, tokenize_py(r["query"])))
                 - len(r["terms"]) for r in rs if r["error"] is None]
        L[f"search.relaxations.{ph}"] = sum(relax) / n
        L[f"search.spark_jobs_per_query.{ph}"] = sum(
            r.get("jobs", 0) for r in rs) / n
        if tr is None:
            continue
        tot = tr.phase_totals(ph)
        sp, dg = tot["spans"], tot["diag"]

        def s(name, i=0):
            return sp.get(name, [0.0, 0, 0, 0])[i]

        def ratio(num, den):
            return num / den if den else 0.0

        L[f"search.self_ms.{ph}"] = s("search") * 1e3 / n
        L[f"search.analyze_ms.{ph}"] = s("search.analyze") * 1e3 / n
        L[f"search.content_cache_hit_ratio.{ph}"] = 1.0 - ratio(
            s("content_store.fetch", 2), s("snippet.build", 1)) if s(
            "snippet.build", 1) else 0.0
        L[f"search.docmeta_cache_hit_ratio.{ph}"] = 1.0 - ratio(
            s("direct_io.resolve_ords", 2), s("search.resolve", 2)) if s(
            "search.resolve", 2) else 0.0
        L[f"snippet.build_ms.{ph}"] = s("snippet.build") * 1e3 / n
        L[f"direct_io.resolve_ords_ms.{ph}"] = s("direct_io.resolve_ords") * 1e3 / n
        L[f"direct_io.resolve_ords_keys.{ph}"] = s("direct_io.resolve_ords", 2) / n
        L[f"content_store.fetch_ms.{ph}"] = s("content_store.fetch") * 1e3 / n
        L[f"content_store.fetch_rows.{ph}"] = s("content_store.fetch", 3) / n
        total_term_info += s("direct_io.term_info", 1)
        if ph == "scoped":
            L["wand.rows_topk_ms.scoped"] = s("wand.rows_topk") * 1e3 / n
            continue
        L[f"search.block_cache_hit_ratio.{ph}"] = 1.0 - ratio(
            s("direct_io.blocks", 2), s("wand.driver_topk", 2)) if s(
            "wand.driver_topk", 2) else 0.0
        L[f"wand.driver_topk_ms.{ph}"] = s("wand.driver_topk") * 1e3 / n
        for k in ("postings_total", "postings_decoded", "candidates",
                  "candidates_scored"):
            L[f"wand.{k}.{ph}"] = dg.get(k, 0) / n
        L[f"wand.decode_ratio.{ph}"] = ratio(dg.get("postings_decoded", 0),
                                             dg.get("postings_total", 0))
        L[f"wand.cut_ratio.{ph}"] = ratio(dg.get("candidates_scored", 0),
                                          dg.get("candidates", 0))
        L[f"codec.decode_calls.{ph}"] = s("codec.decode", 1) / n
        L[f"codec.decode_ms.{ph}"] = s("codec.decode") * 1e3 / n
        L[f"direct_io.blocks_ms.{ph}"] = s("direct_io.blocks") * 1e3 / n
        L[f"direct_io.blocks_calls.{ph}"] = s("direct_io.blocks", 1) / n
        L[f"direct_io.block_rows.{ph}"] = s("direct_io.blocks", 3) / n
    L["direct_io.term_info_calls"] = total_term_info
    for ph in ("hot", "wide"):
        L[f"search.tail_ms.{ph}"] = tail(lat.get(ph, []))[0]


# -------------------------------------------------------------- metric set
def per_layer_names() -> list[str]:
    names = [
        "session.start_s", "session.peak_rss_mb", "lifecycle.prepare_s",
        "lifecycle.stats_s",
        "lifecycle.blocks_s", "lifecycle.build_cpu_s",
        "lifecycle.build_cpu_utilization", "lifecycle.build_spark_jobs",
        "build.docs_tokenized",
        "build.postings_emitted", "build.terms", "build.files_per_s",
        "index.blocks_merged", "index.blocks_bytes", "index.tf_bytes",
        "index.doc_stats_bytes", "index.term_stats_bytes", "index.open_s",
        "content_store.write_s", "content_store.bytes",
        "direct_io.term_info_calls", "wand.rows_topk_ms.scoped",
        "search.tail_ms.hot", "search.tail_ms.wide",
        "trace.op_ms", "trace.overhead_ms_per_query",
    ]
    for ph in PHASES:
        names += [f"{m}.{ph}" for m in (
            "search.latency_ms", "search.analyze_ms", "search.self_ms",
            "search.relaxations", "search.spark_jobs_per_query",
            "search.content_cache_hit_ratio", "search.docmeta_cache_hit_ratio",
            "snippet.build_ms", "direct_io.resolve_ords_ms",
            "direct_io.resolve_ords_keys", "content_store.fetch_ms",
            "content_store.fetch_rows")]
    for ph in UNSCOPED_PHASES:
        names += [f"{m}.{ph}" for m in (
            "search.block_cache_hit_ratio", "wand.driver_topk_ms",
            "wand.postings_total", "wand.postings_decoded", "wand.candidates",
            "wand.candidates_scored", "wand.decode_ratio", "wand.cut_ratio",
            "codec.decode_calls", "codec.decode_ms", "direct_io.blocks_ms",
            "direct_io.blocks_calls", "direct_io.block_rows")]
    return names


def unit_of(name: str) -> str:
    base = name.split(".")[1]
    if base.endswith("per_s"):
        return "1/s"
    if base.endswith("_ms") or "_ms_" in base:
        return "ms"
    if base.endswith("_s"):
        return "s"
    if base.endswith("_mb"):
        return "MB"
    if base.endswith("bytes"):
        return "bytes"
    if "ratio" in base or "utilization" in base:
        return "ratio"
    return "count"


E2E = {"setup_s": "s", "op_cpu_s": "s", "bytes_per_source_byte": "ratio"}
WORKLOADS = {"build": run_build, "serve": run_serve}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "posik_engine_spark")):
        print(f"perfbench: no posik_engine_spark package under {ROOT}; run "
              f"from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    run = Run(args)
    try:
        res = WORKLOADS[args.workload](run)
        run.layer["session.peak_rss_mb"] = run.peak_rss_mb()
        if args.trace:
            run.layer["trace.op_ms"] = res["op_ms"]
        if run.tracer is not None:
            spans = run.tracer.spans
            n_q = sum(1 for s in spans if s[0] == "search")
            run.layer["trace.overhead_ms_per_query"] = (
                run.tracer.span_cost_s() * len(spans) / max(1, n_q) * 1e3)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.write(os.path.join(
                out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        run.close()

    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(run.errors)} check errors", file=sys.stderr)
    for e in run.errors[:20]:
        print(f"  {e}", file=sys.stderr)
    for op, (a, f) in sorted(run.ops.items()):
        print(f"ops {op}: attempted {a} failed {f}")
    summary = dict(res["summary"], op_ms=(res["op_ms"], "ms (wall)"),
                   setup_wall_s=(run.setup_wall_s, "s (wall)"))
    for k, (v, unit) in summary.items():
        print(f"{k} {v:.6g} {unit}")
    if args.trace:
        names = per_layer_names()
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": unit_of(n)}
                   for n in names}
    else:
        metrics = {n: {"value": float(res[n]), "unit": u} for n, u in E2E.items()}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    attempted = sum(a for a, _ in run.ops.values())
    failed = sum(f for _, f in run.ops.values())
    print(json.dumps({"correct": not run.errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
