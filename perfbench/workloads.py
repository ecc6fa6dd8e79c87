"""The benchmark's workloads.

``ann``: k-NN serving and ingest on one engine.  Set-up builds four indexes
(Flat, IVFFlat at nprobe < nlist, SQ8 Flat served with ``rerank=True`` and a
``streaming_build`` graph).  The timed region first serves read-only
queries (``ann_search`` on each index, the rewritten ``engine.sql`` top-k,
``ann_search(local=True)`` and ``ann_search_batch``), then runs rounds of
``insert`` and ``delete``, each followed by distributed and local searches,
and ends with a ``vacuum`` of the Flat index.

``text_dedup``: the LLM-pipeline dedup operators ``minhash_signatures``,
``simhash``, ``dedup_fuzzy`` and ``dedup_against`` over a seeded corpus with
planted near-duplicates, with ``__spark_entry__``'s constants.  No index
code runs.

Load is one client in a closed loop.  Each call's wall includes collecting
its result.  Every output is checked outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, gen
from perfbench.spans import OpRecord, Tracer, job_group, plan_ms, spark_phase

K = 10

# ann sizes.  The Flat snapshot is ANN_ROWS x DIM x 4 bytes = 2 MiB, inside
# the engine's 512 MiB LOCAL_SERVE_MAX_BYTES cap, so local serving applies;
# every insert, delete and vacuum invalidates that snapshot.
ANN_ROWS = 4000
INSERT_ROWS = 200
DELETE_ROWS = 50
DELETE_NEAR = 5  # of each round's deletes, the live rows nearest its probe
MAX_ROUNDS = 40
BATCH = 16
# ann's set-up (four concurrent builds on a cold JVM, ~23 s on a 4-core
# host) runs once per run: each repeat would add ~8 s to every run, and a
# campaign of ~50 runs has to fit in under an hour.  text_dedup's set-up is
# one ~0.5 s Spark job whose wall swings +-25%, so it runs SETUPS times.
SETUPS = 7
IVF_NLIST, IVF_NPROBE = 32, 4
SEARCH_KW = {"flat": {}, "ivf": {}, "sq8": {"rerank": True}, "graph": {}}
INDEXES = list(SEARCH_KW)
# batches run on Flat and on the two approximate indexes whose recall moves
# (SQ8 with rerank reads ~1.0)
BATCH_INDEXES = ["flat", "ivf", "graph"]
READ_KINDS = (
    [f"search.{i}" for i in INDEXES] + ["sql", "local"]
    + [f"batch.{i}" for i in BATCH_INDEXES]
)
WRITE_KINDS = (
    ["insert", "delete"] + [f"fresh_search.{i}" for i in INDEXES] + ["fresh_local"]
)

# text_dedup sizes
DOCS = 2000
DEDUP_OPS = {
    "minhash_signatures": "minhash_sigs",
    "simhash": "simhash",
    "dedup_fuzzy": "dedup_clusters",
    "dedup_against": "dedup_against",
}

# share of the measured seconds spent in ann's read-only phase; the rest
# goes to insert/delete rounds
ANN_READ_SHARE = 0.5


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    datadir: str
    tracer: Tracer | None
    records: list[OpRecord] = field(default_factory=list)
    builds: list[OpRecord] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)
    attempted: int = 0
    failed: set = field(default_factory=set)
    failures: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def fail(self, what: str, problems: list[str], key=None) -> None:
        """Record a check's problems against one operation (by default the
        last one attempted)."""
        if problems:
            self.failed.add(self.attempted if key is None else key)
            self.failures.extend(f"{what}: {p}" for p in problems)

    def data(self, name: str) -> str:
        return os.path.join(self.datadir, name)

    def log(self, phase: str) -> None:
        """Phase progress on stderr (stdout carries only the result)."""
        print(f"perfbench: {phase} done at {time.perf_counter() - self.t0:.1f}s",
              file=sys.stderr, flush=True)


def run_op(ctx: Ctx, kind: str, construct, execute, traced: bool,
           timed: bool = True, into: list | None = None):
    """One operation: ``construct()`` is the engine call, ``execute(df)``
    collects its result.  Each phase runs under its own Spark job group.
    Timed calls are recorded with their job counts (in ``into``, default
    ``ctx.records``); when ``traced`` the call also gets a root span and
    its plan time."""
    sc = ctx.spark.sparkContext
    with ctx.lock:
        ctx.attempted += 1
        gid = f"perfbench-{ctx.attempted}"
    tr = ctx.tracer if traced else None
    if tr is not None:
        tr.enabled = True
    with tr.op_span(kind) if tr is not None else contextlib.nullcontext() as op:
        t0 = time.perf_counter()
        with job_group(sc, gid + "-c"):
            df = construct()
        t1 = time.perf_counter()
        with job_group(sc, gid + "-x"):
            out = execute(df) if execute else None
        t2 = time.perf_counter()
    if tr is not None:
        tr.enabled = False
    if timed:
        rec = OpRecord(kind, (t1 - t0) * 1e3, (t2 - t1) * 1e3, traced=tr is not None, op=op)
        rec.construct_spark = spark_phase(sc, gid + "-c")
        rec.execute_spark = spark_phase(sc, gid + "-x")
        if tr is not None and execute and hasattr(df, "_jdf"):
            rec.plan_ms = plan_ms(df)
        (ctx.records if into is None else into).append(rec)
    return out


def _traced(ctx: Ctx, rep: int, n: int) -> bool:
    """In a traced run, whether call ``n`` of repetition ``rep`` records
    spans: traced and untraced calls alternate by position and swap each
    repetition, so every call kind runs both ways and the order of the two
    does not bias the overhead estimate."""
    return ctx.tracer is not None and (rep + n) % 2 == 0


# ----------------------------------------------------------------- ann
class LiveSet:
    """numpy mirror of the table's live rows: the brute-force reference."""

    def __init__(self, vs: gen.VectorSet):
        self.ids = vs.ids.copy()
        self.x = vs.x.copy()
        self.deleted: set[int] = set()

    def insert(self, vs: gen.VectorSet) -> None:
        self.ids = np.concatenate([self.ids, vs.ids])
        self.x = np.concatenate([self.x, vs.x])

    def delete(self, ids) -> None:
        keep = ~np.isin(self.ids, np.asarray(list(ids), dtype=np.int64))
        self.ids, self.x = self.ids[keep], self.x[keep]
        self.deleted.update(int(i) for i in ids)


def _builds(eng):
    return [
        ("flat", lambda: eng.create_index(
            "flat", "vectors", "embedding", engine="faiss", index_type="Flat")),
        ("ivf", lambda: eng.create_index(
            "ivf", "vectors", "embedding", engine="faiss", index_type="IVFFlat",
            ivf_nlist=IVF_NLIST, nprobe=IVF_NPROBE)),
        ("sq8", lambda: eng.create_index(
            "sq8", "vectors", "embedding", engine="faiss", index_type="Flat",
            quantization="sq8")),
        ("graph", lambda: eng.streaming_build(
            "graph", "vectors", "embedding", partition_rows=ANN_ROWS // 4,
            sample_size=256, max_degree=16, build_complexity=32)),
    ]


def _pooled_build(ctx: Ctx, name: str, build, traced: bool) -> None:
    sc = ctx.spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", f"build-{name}")
    try:
        run_op(ctx, f"build.{name}", build, None, traced, into=ctx.builds)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def _hits(rows, id_col="vec_id", d_col="_distance"):
    return [r[id_col] for r in rows], [r[d_col] for r in rows]


def _vec_sql(q) -> str:
    arr = "array(" + ", ".join(f"CAST({float(v)!r} AS FLOAT)" for v in q) + ")"
    return (
        "SELECT * FROM (SELECT *, array_distance(embedding, "
        f"{arr}) AS d FROM vectors) ORDER BY d LIMIT {K}"
    )


def run_ann(ctx: Ctx) -> dict:
    from duckdb_annsearch_spark import AnnEngine

    spark = ctx.spark
    table, extra = gen.vectors(ctx.seed, ANN_ROWS, INSERT_ROWS * MAX_ROUNDS)
    qs = gen.queries(ctx.seed, table, 400)
    path = gen.write_vectors(ctx.data("vectors.parquet"), table)
    live = LiveSet(table)
    traced = ctx.tracer is not None

    # -- set-up: engine + table + four index builds, run concurrently, each
    # in its own FAIR scheduler pool (the way __spark_entry__ warms its
    # index families)
    t0 = time.perf_counter()
    eng = AnnEngine(spark, workdir=ctx.data("engine"))
    eng.register_table("vectors", path, row_id="vec_id")
    with ThreadPoolExecutor(len(INDEXES)) as pool:
        futs = [
            pool.submit(_pooled_build, ctx, name, build, traced)
            for name, build in _builds(eng)
        ]
        for f in futs:
            f.result()
    setup_s = time.perf_counter() - t0
    ctx.log("set-up")

    def search(idx, q, local=False):
        kw = {} if local else SEARCH_KW[idx]
        return lambda: eng.ann_search("vectors", idx, q.tolist(), k=K, local=local, **kw)

    def collect(df):
        return df.collect()

    def read_op(kind, q, qb, traced_now, timed=True):
        """One read call and its checks; returns the recall of each query
        of a batch on an approximate index."""
        kind_of, idx = kind.split(".", 1) if "." in kind else (kind, "flat")
        if kind_of == "batch":
            qlist = [v.tolist() for v in qb]
            rows = run_op(
                ctx, kind,
                lambda: eng.ann_search_batch("vectors", idx, qlist, k=K, **SEARCH_KW[idx]),
                collect, traced_now, timed,
            )
            return _check_batch(ctx, rows, qb, live, exact=idx == "flat")
        if kind_of == "sql":
            construct, d_col = (lambda: eng.sql(_vec_sql(q))), "d"
        else:
            construct, d_col = search(idx, q, local=kind_of == "local"), "_distance"
        rows = run_op(ctx, kind, construct, collect, traced_now, timed)
        ids, d = _hits(rows, d_col=d_col)
        if idx == "flat":
            # array_distance in SQL is the Euclidean distance; ann_search's
            # _distance is its square
            ctx.fail(kind, checks.check_exact(
                ids, d, live.ids, live.x, q, K, squared=kind_of != "sql"))
        else:
            ctx.fail(kind, checks.check_ann(ids, d, live.ids, live.x, q, K))
        return []

    # -- warm-up (traced runs only, whose walls are reported): one untimed
    # call of every read kind; one batch on Flat warms the batch path of all
    if traced:
        for n, kind in enumerate(READ_KINDS):
            if not kind.startswith("batch.") or kind == "batch.flat":
                read_op(kind, qs[n], qs[-BATCH:], False, timed=False)
        ctx.log("warm-up")

    # -- read-only phase; recall comes from its batches on the approximate
    # indexes
    recalls = []
    read_budget = ctx.seconds * ANN_READ_SHARE
    start, cycle = time.perf_counter(), 0
    while cycle < (2 if traced else 1) or time.perf_counter() - start < read_budget:
        for n, kind in enumerate(READ_KINDS):
            j = (cycle + 1) * len(READ_KINDS) + n
            qb = qs[(j * BATCH) % (len(qs) - BATCH):][:BATCH]
            r = read_op(kind, qs[j % len(qs)], qb, _traced(ctx, cycle, n))
            if kind != "batch.flat":
                recalls.extend(r)
        cycle += 1
    ctx.log(f"read phase ({cycle} cycles)")

    # -- insert/delete rounds.  No untimed warm-up round: the builds and
    # reads before it leave these paths warm (measured: the first round's
    # insert and delete read within 2% of the second's; fresh searches grow
    # with the delta tail, not with warm-up).
    rng = np.random.default_rng([ctx.seed, 4])
    write_budget = ctx.seconds - read_budget
    start, rnd = time.perf_counter(), 0
    while rnd < (2 if traced else 1) or (time.perf_counter() - start < write_budget and rnd < MAX_ROUNDS):
        ins = gen.VectorSet(
            extra.ids[rnd * INSERT_ROWS:(rnd + 1) * INSERT_ROWS],
            extra.x[rnd * INSERT_ROWS:(rnd + 1) * INSERT_ROWS],
        )
        probe = ins.x[0]
        orig = live.ids < ANN_ROWS  # delete only rows of the original table
        near = live.ids[orig][np.argsort(checks.sq_l2(live.x[orig], probe))[:DELETE_NEAR]]
        rest = np.setdiff1d(live.ids[orig], near)
        dels = np.concatenate(
            [near, rng.choice(rest, DELETE_ROWS - DELETE_NEAR, replace=False)]
        ).astype(np.int64)
        rows_df = lambda: spark.createDataFrame(  # noqa: E731
            [(int(i), v.tolist()) for i, v in zip(ins.ids, ins.x)],
            "vec_id long, embedding array<float>",
        )
        run_op(ctx, "insert", lambda: eng.insert("vectors", rows_df()), None,
               _traced(ctx, rnd, 0))
        live.insert(ins)
        run_op(ctx, "delete", lambda: eng.delete("vectors", dels.tolist()), None,
               _traced(ctx, rnd, 1))
        live.delete(dels)
        for n, idx in enumerate(INDEXES):
            kind = f"fresh_search.{idx}"
            rows = run_op(ctx, kind, search(idx, probe), collect, _traced(ctx, rnd, n + 2))
            _check_fresh(ctx, kind, rows, probe, int(ins.ids[0]), live, exact=idx == "flat")
        rows = run_op(ctx, "fresh_local", search("flat", probe, local=True), collect,
                      _traced(ctx, rnd, 6))
        _check_fresh(ctx, "fresh_local", rows, probe, int(ins.ids[0]), live, exact=True)
        rnd += 1
    ctx.log(f"write phase ({rnd} rounds)")

    run_op(ctx, "vacuum", lambda: eng.vacuum("flat"), None, traced)
    # the local path reads the rewritten artifact straight from disk
    rows = search("flat", probe, local=True)().collect()
    ctx.attempted += 1
    _check_fresh(ctx, "after vacuum", rows, probe, int(ins.ids[0]), live, exact=True)

    ctx.log("vacuum")
    if traced:
        ctx.facts.update(_catalog_facts(eng, live))
    batches = [r for r in ctx.records if r.kind.startswith("batch.")]
    return {
        "setup_s": setup_s,
        "items_per_s": BATCH * len(batches) / sum(r.wall_ms / 1e3 for r in batches),
        "quality": float(np.mean(recalls)),
        "kinds": READ_KINDS + WRITE_KINDS + ["vacuum"],
    }


def _check_batch(ctx, rows, qb, live, exact) -> list[float]:
    """Per-query checks of a batch result; returns each query's recall."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_idx"]), []).append(r)
    out = []
    for j, q in enumerate(qb):
        got = sorted(by_q.get(j, []), key=lambda r: (r["_distance"], r["vec_id"]))
        ids, d = _hits(got)
        fn = checks.check_exact if exact else checks.check_ann
        ctx.fail(f"batch query {j}", fn(ids, d, live.ids, live.x, q, K))
        out.append(checks.recall(ids, checks.exact_topk(live.ids, live.x, q, K)[0]))
    return out


def _check_fresh(ctx, kind, rows, probe, inserted_id, live, exact) -> None:
    ids, d = _hits(rows)
    ctx.fail(kind, checks.check_contains(ids, inserted_id))
    ctx.fail(kind, checks.check_excludes(ids, live.deleted))
    fn = checks.check_exact if exact else checks.check_ann
    ctx.fail(kind, fn(ids, d, live.ids, live.x, probe, K))


def _catalog_facts(eng, live) -> dict:
    """Delta files and on-disk bytes per raw vector byte after the rounds."""
    files = 0
    for idx in INDEXES:
        for _root, _dirs, fs in os.walk(eng.catalog.delta_path(idx)):
            files += sum(1 for f in fs if f.endswith(".parquet"))
    size = 0
    for root, _dirs, fs in os.walk(eng.catalog.root):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
    raw = len(live.ids) * live.x.shape[1] * 4 * len(INDEXES)
    return {"delta_files": files, "bytes_per_vector_byte": size / raw}


# ---------------------------------------------------------- text_dedup
def _oracles(path: str) -> dict:
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return {op: con.execute(sqls[q]).fetchdf() for op, q in DEDUP_OPS.items()}
    finally:
        con.close()


def run_text_dedup(ctx: Ctx) -> dict:
    import __spark_entry__ as entry

    spark = ctx.spark
    corpus = gen.corpus(ctx.seed, DOCS)
    path = gen.write_corpus(ctx.data("documents.parquet"), corpus)
    queries = entry.queries()
    traced = ctx.tracer is not None

    # -- set-up, several times: load the corpus and validate its key
    setup_walls = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        docs = spark.read.parquet(path)
        n, distinct = docs.selectExpr("count(*)", "count(DISTINCT doc_id)").first()
        setup_walls.append(time.perf_counter() - t0)
        if n != DOCS or distinct != DOCS:
            ctx.fail("setup", [f"corpus has {n} rows / {distinct} ids, want {DOCS}"])
    ctx.log("set-up")

    def op(name, traced_now, timed=True):
        q = queries[DEDUP_OPS[name]]
        return run_op(
            ctx, name, lambda: q(spark, ctx.datadir), lambda df: df.toPandas(),
            traced_now, timed,
        )

    def passes() -> dict[str, list]:
        """The warm-up pass (traced runs only, whose walls are reported) and
        the timed passes; returns each operator's timed outputs."""
        if traced:
            for name in DEDUP_OPS:
                op(name, False, timed=False)
            ctx.log("warm-up")
        outputs = {name: [] for name in DEDUP_OPS}
        start, rnd = time.perf_counter(), 0
        while rnd < (2 if traced else 1) or time.perf_counter() - start < ctx.seconds:
            for n, name in enumerate(DEDUP_OPS):
                traced_now = _traced(ctx, rnd, n)
                if traced_now and name == "dedup_fuzzy":
                    ctx.tracer.capture = {"lsh_duplicate_pairs": [], "verify_jaccard_pairs": []}
                outputs[name].append(op(name, traced_now))
                if traced_now and name == "dedup_fuzzy":
                    cap, ctx.tracer.capture = ctx.tracer.capture, {}
                    if "verified_per_candidate" not in ctx.facts:
                        cand = sum(df.count() for df in cap["lsh_duplicate_pairs"])
                        ver = sum(df.count() for df in cap["verify_jaccard_pairs"])
                        ctx.facts["verified_per_candidate"] = ver / max(cand, 1)
            rnd += 1
        ctx.log(f"timed passes ({rnd})")
        return outputs

    # the DuckDB oracles run beside the passes
    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(_oracles, path)
        outputs = passes()
        oracle = fut.result()
    for name, outs in outputs.items():
        for i, pdf in enumerate(outs):
            ctx.fail(name, checks.check_hash(pdf, oracle[name]), key=(name, i))
    clusters = outputs["dedup_fuzzy"][-1]
    calls = [r for r in ctx.records if r.kind in DEDUP_OPS]
    return {
        "setup_s": statistics.median(setup_walls),
        "items_per_s": DOCS * len(calls) / sum(r.wall_ms / 1e3 for r in calls),
        "quality": checks.planted_recall(clusters["doc_id"], clusters["cluster"], corpus.planted),
        "kinds": list(DEDUP_OPS),
    }


WORKLOADS = {"ann": run_ann, "text_dedup": run_text_dedup}
