"""The workloads. Each one sets up, runs a closed loop of cycles
until its time is up, then checks its outputs outside the timed region.

A workload returns a :class:`Result`; ``run.py`` turns it into metrics.
Every call into the library goes through ``ctx.rec.call`` so it is timed
(and, in a traced run, tagged) as one span.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from perfbench import corpus as corpus_gen
from perfbench import sdmx
from perfbench.harness import Recorder, Scratch, dir_bytes

SETUPS = 3  # set-ups per run; setup_s is their median


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    scratch: Scratch
    rec: Recorder
    corrupt: bool = False
    spark: object = None
    setup_walls: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)  # phase -> seconds, for diagnostics

    def new_session(self):
        """(Re)start the session as span ``session.get_spark``."""
        from sdlt_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.rec.sc = None  # no context to tag jobs on until the new one is up
        self.spark = self.rec.call("session.get_spark", "setup", get_spark, "perfbench")
        self.rec.sc = self.spark.sparkContext
        return self.spark

    def setup(self, build):
        """Run ``build(i)`` ``SETUPS`` times, each on a fresh session, and
        keep the last one's state."""
        state = None
        self.rec.phase = "setup"
        t_all = time.perf_counter()
        for i in range(SETUPS):
            t0 = time.perf_counter()
            self.new_session()
            state = build(i)
            self.setup_walls.append(time.perf_counter() - t0)
        self.phases["setup"] = time.perf_counter() - t_all
        return state

    def loop(self, cycle, first, first_phase: str) -> None:
        """Call ``first()`` once, then ``cycle()`` until ``seconds`` have
        passed since ``first`` returned. ``first`` builds indexes or warms
        up; its spans count in the per-layer report only."""
        t0 = time.perf_counter()
        self.rec.phase = first_phase
        first()
        t1 = time.perf_counter()
        self.phases[first_phase] = t1 - t0
        deadline = t1 + self.seconds
        while True:
            cycle()
            if time.perf_counter() >= deadline:
                break
        self.rec.phase = "check"
        self.phases["loop"] = time.perf_counter() - t1


@dataclass
class Result:
    checks: dict  # name -> bool
    space_amp: float = 0.0  # after the first measured cycle
    write_amp: float = 0.0
    log_files: int = 0
    verify_yield: float = 0.0
    notes: dict = field(default_factory=dict)


def _live_bytes(t) -> int:
    """Bytes of the data files the latest snapshot reads rows from."""
    from pyspark.sql import functions as F

    files = [r[0] for r in t.read().select(F.input_file_name()).distinct().collect()]
    return sum(os.path.getsize(f.replace("file://", "", 1)) for f in files)


def _space_amp(t) -> float:
    """Bytes under the table directory per byte of the live snapshot's
    data files. Taken after the first measured cycle, so it does not grow
    with the number of cycles a faster run gets through."""
    return dir_bytes(t.path) / _live_bytes(t)


def _log_files(t) -> int:
    from sdlt_spark.store.vintage import _LOG_DIR

    return len(os.listdir(os.path.join(t.path, _LOG_DIR)))


# ------------------------------------------------------------ sdmx_vintage


def sdmx_vintage(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from sdlt_spark.store import VintageTable
    from sdlt_spark.store.sdmx import exr_schema, with_key

    rec = ctx.rec

    def frame(rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=sdmx.COLUMNS).astype({"DECIMALS": "int32"})
        return with_key(ctx.spark.createDataFrame(pdf, exr_schema()))

    # the inputs are generated once; each set-up loads the same rows
    stream = sdmx.Stream(ctx.seed)
    init = stream.initial()

    def build(i):
        t = VintageTable(ctx.spark, ctx.scratch.path(f"sdmx-{i}"), change_feed=True)
        rec.call("store.vintage.write", "setup", t.write, frame(init["rows"]), cluster_by=["TIME_PERIOD"], num_files=8)
        return t

    t = ctx.setup(build)
    rng = random.Random(ctx.seed * 7919 + 1)
    seen_counts: list[tuple[int, int]] = []
    history_lens: list[tuple[int, int]] = []
    amp = {"written": 0, "wire": 0}
    space = {}

    def apply(msg):
        kind = msg["kind"]
        if kind == "merge":
            src = frame(msg["rows"])
            return rec.call("store.vintage.merge", "commit", t.merge, src, ["KEY"])
        if kind == "update":
            cond = f"CURRENCY = '{msg['currency']}'"
            return rec.call("store.vintage.update", "commit", t.update, cond, {"DECIMALS": "DECIMALS + 1"})
        if kind == "delete":
            return rec.call("store.vintage.delete", "commit", t.delete, f"CURRENCY = '{msg['currency']}'")
        lo, hi = msg["window"]
        src = frame(msg["rows"])
        pred = f"TIME_PERIOD >= '{lo}' AND TIME_PERIOD <= '{hi}'"
        return rec.call("store.vintage.replace_where", "commit", t.write, src, replace_where=pred)

    def read_all(v):
        # reads beside the writes: a window aggregate on the latest
        # vintage, time travel, the version log and the change feed
        first = rng.randrange(0, stream.months - 36)
        lo = sdmx.period(first, stream.start_year)
        hi = sdmx.period(first + 35, stream.start_year)
        rec.call(
            "store.vintage.read_where", "read",
            lambda: t.read_where("TIME_PERIOD", lo, hi)
            .agg(F.count(F.lit(1)), F.sum("OBS_VALUE"))
            .collect(),
        )
        # time travel a few commits back: the versions in reach have the
        # same file layout, so the read costs the same whichever one the
        # seed picks
        old = v - rng.randint(1, 3)
        n = rec.call(
            "store.vintage.read_version", "read",
            lambda: t.read(version=old).agg(F.count(F.lit(1))).collect()[0][0],
        )
        h = rec.call("store.vintage.history", "read", lambda: len(t.history().collect()))
        rec.call(
            "store.vintage.table_changes", "read",
            lambda: t.table_changes(max(1, v - 2), v).count(),
        )
        seen_counts.append((old, n))
        history_lens.append((v, h))

    def cycle(measured=True, reads=True):
        msg = stream.next()
        before = dir_bytes(t.path) if ctx.trace else 0
        if measured:
            rec.begin_cycle()
        v = apply(msg)
        if reads:
            read_all(v)
        if measured:
            rec.end_cycle()
            if len(rec.cycles) == 1:
                space["amp"] = _space_amp(t)
        if ctx.trace:
            amp["written"] += dir_bytes(t.path) - before
            amp["wire"] += sdmx.wire_bytes(msg)

    def warmup():
        # one message of every kind warms the session's code paths (plan
        # compilation, JIT) the way a long-running receiver's first messages
        # do; the last one, a revision, also runs the reads. They are
        # applied and checked but not measured.
        for _ in sdmx.WARMUP[:-1]:
            cycle(measured=False, reads=False)
        cycle(measured=False)

    ctx.loop(cycle, first=warmup, first_phase="warmup")

    # ---- checks, outside the timed region
    model = stream.model
    latest = t.latest_version()
    checks = {"versions": latest == len(model.versions) - 1}
    if ctx.corrupt:  # change the table behind the model's back
        key = next(iter(model.rows))
        t.delete(f"KEY = '{key}'")
        latest = t.latest_version()
        model.versions.append(model.versions[-1])
    probe = sorted({0, latest // 2, latest})
    cols = ["KEY"] + sdmx.COLUMNS
    for v in probe:
        arrow = t.read(version=v).select(*cols).toArrow()
        rows = zip(*(arrow.column(c).to_pylist() for c in cols))
        got = sdmx.snapshot_digest(sdmx.canonical(*r) for r in rows)
        checks[f"snapshot_v{v}"] = got == model.versions[v]
    checks["time_travel_counts"] = all(model.versions[v][1] == n for v, n in seen_counts)
    checks["history_lengths"] = all(h == v + 1 for v, h in history_lens)
    return Result(
        checks=checks,
        space_amp=space["amp"],
        write_amp=amp["written"] / amp["wire"] if amp["wire"] else 0.0,
        log_files=_log_files(t),
        notes={"versions": latest},
    )


# ---------------------------------------------------- batch near-dup pass
# Run once on the final corpus of a traced corpus_refresh run.

THRESHOLD = 0.9
MAX_HAMMING = 10


def _write_documents(rows: list[tuple], sf_dir: str) -> None:
    """Write ``(doc_id, text)`` rows as ``<sf_dir>/documents.parquet``, the
    layout ``sdlt_spark.tables.load`` and the oracle SQL read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*rows)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def dedup_pass(rec: Recorder, spark, sf_dir: str) -> dict:
    """One full near-dup pass over ``<sf_dir>/documents``: MinHash pairs,
    SimHash pairs, clusters over the MinHash pairs, and the registry's
    dedup_pipeline entry. Each output is materialised inside its span."""
    from sdlt_spark import queries, tables
    from sdlt_spark.operators import dedup

    kind = "batch"
    docs = tables.load(spark, sf_dir, "documents")
    out = {}
    out["minhash"] = rec.call(
        "operators.dedup.minhash_dedup", kind,
        lambda: _counted(dedup.minhash_dedup(docs, "doc_id", threshold=THRESHOLD, estimate_prefilter=False)),
    )
    out["simhash"] = rec.call(
        "operators.dedup.simhash_neardup", kind,
        lambda: _counted(dedup.simhash_neardup(docs, "doc_id", max_hamming=MAX_HAMMING)),
    )
    out["clusters"] = rec.call(
        "operators.dedup.dedup_clusters", kind,
        lambda: _counted(dedup.dedup_clusters(out["minhash"], docs.select("doc_id"), "doc_id")),
    )
    out["pipeline"] = rec.call(
        "queries.dedup_pipeline", kind,
        lambda: _counted(queries.dedup_pipeline(spark, sf_dir)),
    )
    return out


def _rows(df, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def oracle_checks(sf_dir: str, out: dict) -> dict:
    """Compare a :func:`dedup_pass` with the registry's DuckDB oracle SQL
    (and ``cluster_oracle_sql`` for the plain clustering)."""
    import duckdb

    from sdlt_spark import queries
    from sdlt_spark.operators import dedup

    reg = queries.registry()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")

    def oracle(sql, cols):
        return sorted(tuple(r) for r in con.sql(sql).select(", ".join(cols)).fetchall())

    minhash = _rows(out["minhash"], ["id_a", "id_b", "jaccard"])
    cluster_sql = dedup.cluster_oracle_sql(
        "documents", "doc_id", "text", threshold=THRESHOLD, estimate_prefilter=False
    )
    checks = {
        "found_pairs": len(minhash) > 0,
        "minhash_vs_oracle": minhash
        == oracle(reg["minhash_lsh_dedup"][1], ["id_a", "id_b", "jaccard"]),
        "simhash_vs_oracle": _rows(out["simhash"], ["id_a", "id_b", "hamming"])
        == oracle(reg["simhash_neardup"][1], ["id_a", "id_b", "hamming"]),
        "clusters_vs_oracle": _rows(out["clusters"], ["doc_id", "cluster"])
        == oracle(cluster_sql, ["doc_id", "cluster"]),
        "pipeline_vs_oracle": _rows(out["pipeline"], ["doc_id", "cluster", "is_canonical"])
        == oracle(reg["dedup_pipeline"][1], ["doc_id", "cluster", "is_canonical"]),
    }
    con.close()
    return checks


def _counted(df):
    df.count()
    return df


def _verify_yield(spark, sf_dir: str) -> float:
    """Verified ÷ candidate pairs, from the banding and verify stages run
    and materialised separately."""
    from pyspark.sql import functions as F

    from sdlt_spark import tables
    from sdlt_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    bands = dedup.tune_bands(32, THRESHOLD)
    sig = dedup.minhash_signatures(docs, "doc_id", num_hashes=32).persist()
    cand = dedup.lsh_candidate_pairs(sig, "doc_id", bands=bands, rows_per_band=32 // bands).persist()
    n_cand = cand.count()
    tok = dedup.doc_tokens(docs, "doc_id")
    n_ok = dedup.jaccard_verify(cand, tok, "doc_id").filter(F.col("jaccard") >= THRESHOLD).count()
    cand.unpersist()
    sig.unpersist()
    return n_ok / n_cand if n_cand else 0.0


# ---------------------------------------------------------- corpus_refresh

REFRESH_DOCS = 1000  # 60% builds the indexes; inserts come from the rest
BATCH_INSERTS = 20
BATCH_UPDATES = 5
BATCH_DELETES = 5
PROBES = 4  # queries served from each refreshed index; the first one reads it cold
N_CELLS = 16


def corpus_refresh(ctx: Ctx) -> Result:
    import numpy as np
    from pyspark.sql import types as T

    from sdlt_spark.operators import minhash_index, similarity
    from sdlt_spark.store import VintageTable

    rec = ctx.rec
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )
    # the pool holds enough unseen documents for any run length
    total = REFRESH_DOCS * 4

    def frame(rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "embedding"])
        return ctx.spark.createDataFrame(pdf, schema)

    c = corpus_gen.Corpus(ctx.seed, total)
    initial = [d for d in range(REFRESH_DOCS) if random.Random(ctx.seed + d).random() < 0.6]
    initial_rows = c.corpus_rows(initial)

    def build(i):
        t = VintageTable(ctx.spark, ctx.scratch.path(f"corpus-{i}"), change_feed=True)
        # the corpus is far below one file's worth of data, so it is one
        # file, and every batch rewrites it: its space after a batch does
        # not hang on how many files the batch's random ids happen to hit
        rec.call("store.vintage.write", "setup", t.write, frame(initial_rows), cluster_by=["doc_id"], num_files=1)
        return t

    t = ctx.setup(build)
    spark = ctx.spark
    idx = ctx.scratch.path("minhash-index")
    ivf = ctx.scratch.path("ivf-index")
    rng = random.Random(ctx.seed * 31 + 7)
    live = set(initial)
    fresh = iter(sorted(set(range(total)) - live))
    pairs: set[tuple] = set()
    amp = {"written": 0, "wire": 0}
    space = {}

    def builds():
        v0 = t.latest_version()
        got, _rep = rec.call(
            "operators.minhash_index.build", "refresh",
            lambda: _collected(*minhash_index.minhash_index_build(t, idx, "doc_id", "text", threshold=THRESHOLD, version=v0)),
        )
        rec.call(
            "operators.similarity.ivf_build", "refresh",
            lambda: similarity.ivf_build(
                t.read(version=v0).select("doc_id", "embedding"), "embedding", "doc_id", ivf,
                n_cells=N_CELLS, txn_id=f"ivf_refresh:{v0}",
            ),
        )
        pairs.update(got)

    def cycle():
        inserts = [next(fresh) for _ in range(BATCH_INSERTS)]
        pool = sorted(live)
        updates = rng.sample(pool, BATCH_UPDATES)
        deletes = rng.sample(sorted(set(pool) - set(updates)), BATCH_DELETES)
        rows = c.corpus_rows(inserts) + [c.revised(u, rng.choice(pool)) for u in updates]
        src = frame(rows)
        cond = f"doc_id IN ({', '.join(map(str, deletes))})"
        queries_ = [c.vectors[rng.choice(pool)].tolist() for _ in range(PROBES)]
        before = dir_bytes(t.path) if ctx.trace else 0
        rec.begin_cycle()
        rec.call("store.vintage.merge", "commit", t.merge, src, ["doc_id"])
        rec.call("store.vintage.delete", "commit", t.delete, cond)
        new_pairs, stale = rec.call(
            "operators.minhash_index.refresh", "refresh",
            lambda: _collected(*minhash_index.minhash_refresh(t, idx)[:2]),
        )
        rec.call(
            "operators.similarity.ivf_refresh", "refresh",
            similarity.ivf_refresh, t, ivf, "embedding", "doc_id",
        )
        for q in queries_:
            rec.call(
                "operators.similarity.ivf_search", "read",
                lambda q=q: similarity.ivf_search(spark, ivf, "embedding", "doc_id", q, k=10, nprobe=4).collect(),
            )
        rec.end_cycle()
        if len(rec.cycles) == 1:
            space["amp"] = _space_amp(t)
        gone = {s[0] for s in stale}
        pairs.difference_update({p for p in pairs if p[0] in gone or p[1] in gone})
        pairs.update(new_pairs)
        live.update(inserts)
        live.difference_update(deletes)
        if ctx.trace:
            amp["written"] += dir_bytes(t.path) - before
            amp["wire"] += sum(len(f"{r[0]},{r[1]},{r[2]}") + 1 for r in rows) + len(cond)

    ctx.loop(cycle, first=builds, first_phase="build")

    # ---- checks: incremental results equal from-scratch ones
    from sdlt_spark.operators import dedup

    snap = t.read()
    checks = {"live_ids": {r[0] for r in snap.select("doc_id").collect()} == live}
    yield_ = 0.0
    if ctx.trace:
        # the traced run also measures the batch dedup layers once, on
        # the final corpus, and checks them against the DuckDB oracle
        sf_dir = ctx.scratch.path("final-docs")
        _write_documents(sorted(tuple(r) for r in snap.select("doc_id", "text").collect()), sf_dir)
        out = dedup_pass(rec, spark, sf_dir)
        checks.update(oracle_checks(sf_dir, out))
        from_scratch = out["minhash"]
        yield_ = _verify_yield(spark, sf_dir)
    else:
        from_scratch = rec.call(
            "operators.dedup.minhash_dedup", "batch",
            lambda: dedup.minhash_dedup(
                snap.select("doc_id", "text"), "doc_id", threshold=THRESHOLD, estimate_prefilter=False
            ),
        )
    if ctx.corrupt:
        pairs.pop()
    checks["found_pairs"] = len(pairs) > 0
    checks["pairs_vs_scratch"] = pairs == {tuple(r) for r in from_scratch.collect()}
    # refresh keeps the build's centroids: every cell must equal a fresh
    # assignment of the final corpus to them
    _v, cents, _pops = similarity._latest_ivf_build(VintageTable(spark, ivf))
    index_cells = dict(VintageTable(spark, ivf).read().select("doc_id", "__cell").collect())
    assigned = similarity.ivf_assign(snap, "embedding", np.asarray(cents))
    checks["ivf_cells_vs_assign"] = index_cells == dict(assigned.select("doc_id", "__cell").collect())
    return Result(
        checks=checks,
        space_amp=space["amp"],
        write_amp=amp["written"] / amp["wire"] if amp["wire"] else 0.0,
        log_files=_log_files(t),
        verify_yield=yield_,
        notes={"pairs": len(pairs), "docs": len(live)},
    )


def _collected(*frames):
    return [{tuple(r) for r in f.collect()} if hasattr(f, "collect") else f for f in frames]


WORKLOADS = {
    "sdmx_vintage": sdmx_vintage,
    "corpus_refresh": corpus_refresh,
}
