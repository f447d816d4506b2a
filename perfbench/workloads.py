"""The three workloads. Each is a single-client closed loop: the next op
starts only after the previous one returned.

A workload runs in *passes* of fixed composition, and a timed window is
``round(seconds / pass_seconds)`` whole passes, so the mix of op shapes
never varies from run to run. ``pass_seconds`` is a nominal pass time,
near the measured pass on a shared 4-CPU host, which swings by about 20%
(tpch_sql 9-14 s, corpus_prep 5-8 s, lakehouse_loop 0.6-0.9 s):

- ``tpch_sql``: a pass is the 22 TPC-H statements in a seeded order;
- ``corpus_prep``: a pass is one fresh document batch taken through the
  nine-builder chain, one op per builder;
- ``lakehouse_loop``: a pass is one change batch.

Only the program's calls are inside an op. Landing inputs between ops,
computing oracle answers and checking outputs are harness work, kept out
of op time, of ``setup_s`` and of ``cpu_s_per_op``.
"""

from __future__ import annotations

import json
import os
import random

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import Tracer

TPCH_SF = 0.01
CORPUS_DOCS = 200
# Nine builders: an odd count puts the median op inside one builder's
# latency cluster rather than on the gap between two, and three passes of
# nine give 27 samples, enough for a tail above the median.
CHAIN = [
    "pipeline_corpus_clean",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "knn_bruteforce_cosine",
    "bpe_encode_fixed",
    "text_gopher_quality",
    "text_token_stats",
    "dedup_exact",
    "dedup_simhash",
]
LAKE_ROWS = 2000
LAKE_BATCH = 50
MAINTAIN_EVERY = 10  # every Nth change batch also compacts and expires


def duckdb_answer(sql: str, data_dir: str) -> pd.DataFrame:
    """Run oracle SQL over the parquet files of ``data_dir`` as views."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')"
                )
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def matches(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    from tests.oracle import compare_frames

    return not compare_frames(spark_pdf, oracle_pdf)


class Workload:
    """Common shape. Subclasses fill in the session, the passes and the
    checks; ``run.py`` owns timing."""

    name = ""
    pass_seconds = 1.0  # nominal pass time that sizes the window
    # program modules the workload uses; imported before prepare(), so
    # their import time counts towards setup_s
    modules: tuple[str, ...] = ("glaredb_spark.session",)

    def __init__(self, seed: int, work_dir: str, tracer: Tracer):
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.spark = None

    def prepare(self) -> None:
        """Harness-only work before the first session (inputs, oracles)."""

    def setup(self, conf: dict) -> None:
        """Build a session and everything the ops need, then run one
        untimed warm-up op."""
        raise NotImplementedError

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def next_pass(self) -> list:
        """Harness step before a pass; returns the pass's op arguments."""
        raise NotImplementedError

    def op(self, arg):
        """The timed call into the program; returns what ``check`` needs."""
        raise NotImplementedError

    def after_op(self, index: int, arg, out, ledger) -> None:
        """Harness step after an op (may record a verdict)."""
        ledger.verdict(index, self.check(arg, out))

    def check(self, arg, out) -> bool:
        raise NotImplementedError

    def finish(self, ledger) -> None:
        """Checks that run once after the timed window."""

    def layer_metrics(self, ops: set[int]) -> dict:
        return {}


class TpchSql(Workload):
    """Each op is one TPC-H statement text (the registry's oracle SQL for
    q01-q22) through ``GlareSession.sql``, then collected."""

    name = "tpch_sql"
    pass_seconds = 11.0
    # glaredb_spark.tpch registers q01-q22 and their oracle texts
    modules = ("glaredb_spark.session", "glaredb_spark.tpch")

    def prepare(self):
        from glaredb_spark.registry import ORACLES

        self.data_dir = os.path.join(self.work_dir, "tpch")
        inputs.tpch_tables(self.seed, TPCH_SF, self.data_dir)
        self.texts = {
            n: ORACLES[n] for n in sorted(ORACLES) if n.startswith("tpch_q")
        }
        self.answers = {n: duckdb_answer(t, self.data_dir) for n, t in self.texts.items()}
        self.order_rng = random.Random(self.seed)

    def setup(self, conf):
        from glaredb_spark.session import connect

        self.sess = connect(sf_dir=self.data_dir, **conf)
        self.spark = self.sess.spark
        self.op("tpch_q01")

    def next_pass(self):
        names = list(self.texts)
        self.order_rng.shuffle(names)
        return names

    def op(self, name):
        with self.tracer.span("session.sql"):
            df = self.sess.sql(self.texts[name])
        with self.tracer.span("collect"):
            return df.toPandas()

    def check(self, name, out):
        return matches(out, self.answers[name])

    def layer_metrics(self, ops):
        return {"session.sql_s": self.tracer.total("session.sql", ops) / len(ops)}


class CorpusPrep(Workload):
    """Each pass writes a fresh seeded document and embedding batch to a
    new directory and runs the builder chain over it, one op per
    builder. A new directory per batch means no builder with
    ``cache_plan=True`` is ever handed a plan it built before."""

    name = "corpus_prep"
    pass_seconds = 6.5
    modules = ("glaredb_spark.session",) + tuple(
        f"glaredb_spark.operators.{m}"
        for m in ("bpe", "dedup", "pipeline", "similarity", "text")
    )

    def prepare(self):
        from glaredb_spark.registry import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.batch = 0
        self.outputs: list[tuple[int, str, str, pd.DataFrame]] = []

    def _fresh_dir(self) -> str:
        self.batch += 1
        d = os.path.join(self.work_dir, f"corpus-{self.batch}")
        inputs.corpus_batch(self.seed, self.batch, CORPUS_DOCS, d)
        return d

    def setup(self, conf):
        from glaredb_spark.session import get_spark

        self.spark = get_spark(extra_conf=conf)
        self.op((CHAIN[-1], self._fresh_dir()))

    def next_pass(self):
        d = self._fresh_dir()
        return [(name, d) for name in CHAIN]

    def op(self, arg):
        name, d = arg
        with self.tracer.span("operators.build"):
            df = self.queries[name](self.spark, d)
        with self.tracer.span("collect"):
            return df.toPandas()

    def after_op(self, index, arg, out, ledger):
        # oracle answers cost up to a second each: check after the window
        self.outputs.append((index, arg[0], arg[1], out))

    def finish(self, ledger):
        for index, name, d, out in self.outputs:
            ledger.verdict(index, matches(out, duckdb_answer(self.oracles[name], d)))
        self.outputs = []

    def layer_metrics(self, ops):
        return {"operators.build_s": self.tracer.total("operators.build", ops) / len(ops)}


CHANGE_SCHEMA = "k long, g string, v long, op string"


def _files(path: str) -> dict[str, int]:
    """Every file under ``path`` with its size."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            out[f] = os.path.getsize(f)
    return out


class LakehouseLoop(Workload):
    """Change data capture into an Iceberg v2 table. Each op lands one
    seeded change batch (inserts, updates and deletes, hot-key skewed) as
    a file, and one long-running Structured Streaming query commits it
    through ``upsert_iceberg_native`` from ``foreachBatch``. The op ends
    when ``processAllAvailable`` returns, i.e. when the commit is
    visible to readers, so op latency is the table's freshness. Every
    ``MAINTAIN_EVERY``-th op also purges row-level deletes and expires
    snapshots. Each commit's snapshot is checked after the op, and after
    the window the whole table is read back through
    ``read_iceberg_native`` and checked against the harness's model of
    the table; both are outside op time."""

    name = "lakehouse_loop"
    pass_seconds = 0.8
    modules = ("glaredb_spark.session", "glaredb_spark.sources.iceberg_native")

    def prepare(self):
        from glaredb_spark.sources import iceberg_native

        self.ice = iceberg_native
        self.n_setups = 0
        self.progress: dict[int, list[dict]] = {}
        self.written: dict[int, tuple[int, int, int]] = {}

    def setup(self, conf):
        from glaredb_spark.session import get_spark

        self.n_setups += 1
        base = os.path.join(self.work_dir, f"lake-{self.n_setups}")
        self.table = os.path.join(base, "table")
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing)
        self.changes = inputs.ChangeStream(self.seed, LAKE_ROWS)
        self.n_batches = 0
        self.spark = get_spark(extra_conf=conf)
        self.ice.write_iceberg_native(
            self.spark.createDataFrame(self.changes.rows(), "k long, g string, v long")
            .coalesce(1),
            self.table, format_version=2,
        )
        self.query = (
            self.spark.readStream.schema(CHANGE_SCHEMA).parquet(self.landing)
            .writeStream.foreachBatch(self._commit)
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .start()
        )
        self.op(self.next_pass()[0])  # checked by the read-back
        self.pending: list[tuple[int, bool]] = []
        self.last_batch = self.query.lastProgress["batchId"]

    def close(self):
        if self.spark is not None:
            self.query.stop()
        super().close()

    def _commit(self, df, batch_id):
        up = df.filter("op = 'U'").select("k", "g", "v")
        dels = df.filter("op = 'D'").select("k")
        with self.tracer.span("iceberg_native.upsert"):
            self.ice.upsert_iceberg_native(self.spark, self.table, up, ["k"], delete_keys=dels)

    def next_pass(self):
        self.n_batches += 1
        self.prev_snapshot = self.ice.table_metadata(self.table).get("current-snapshot-id")
        if self.tracer.enabled:
            self.files_before = _files(self.table)
        batch = self.changes.batch(LAKE_BATCH)
        return [(self.n_batches, batch)]

    def op(self, arg):
        n, batch = arg
        # written under a dot name, which the file source skips, then
        # renamed, so the stream never lists a half-written file
        tmp = os.path.join(self.landing, f".b{n:06d}.parquet")
        pq.write_table(pa.table(batch), tmp)
        os.replace(tmp, os.path.join(self.landing, f"b{n:06d}.parquet"))
        self.query.processAllAvailable()
        if n % MAINTAIN_EVERY == 0:
            with self.tracer.span("sources.maintenance"):
                self.ice.purge_iceberg_native(self.spark, self.table)
                self.ice.expire_snapshots_iceberg_native(
                    self.table, retention_hours=0, retain_last=3
                )
        return None

    def _committed(self, arg) -> bool:
        """The batch produced exactly one new snapshot on top of the one
        before it, adding a data file for its upserts and one equality
        delete file for its keys."""
        n, batch = arg
        mine = [
            s for s in self.ice.table_metadata(self.table).get("snapshots", [])
            if s.get("parent-snapshot-id") == self.prev_snapshot
        ]
        if len(mine) != 1:
            return False
        summary = mine[0]["summary"]
        has_up = any(op == "U" for op in batch["op"])
        return (
            int(summary.get("added-data-files", 0)) == int(has_up)
            and int(summary.get("added-delete-files", 0)) == 1
        )

    def _read_back(self) -> bool:
        """The whole table equals the model, recomputed in DuckDB."""
        with self.tracer.span("sources.read"):
            got = self.ice.read_iceberg_native(self.spark, self.table).toPandas()
        model = pd.DataFrame(self.changes.rows(), columns=["k", "g", "v"])
        want = duckdb.sql("SELECT k, g, v FROM model").df()
        return matches(got[["k", "g", "v"]], want)


    def after_op(self, index, arg, out, ledger):
        if self.tracer.enabled:
            self.progress[index] = [
                json.loads(p.json) for p in self.query.recentProgress
                if p["batchId"] > self.last_batch
            ]
            self.last_batch = self.query.lastProgress["batchId"]
            new = {
                f: n for f, n in _files(self.table).items()
                if f not in self.files_before
            }
            meta = os.path.join(self.table, "metadata")
            self.written[index] = (
                len(new), sum(new.values()),
                sum(n for f, n in new.items() if f.startswith(meta)),
            )
        self.pending.append((index, self._committed(arg)))

    def finish(self, ledger):
        """An op is correct when its own commit checked out and the table
        read back after the window matches the model."""
        ok = self._read_back()
        for index, committed in self.pending:
            ledger.verdict(index, ok and committed)
        self.pending = []

    def layer_metrics(self, ops):
        from perfbench.trace import progress_metrics

        n = len(ops)
        progress = [p for i in ops for p in self.progress[i]]
        written = [self.written[i] for i in ops]
        live = self.ice.read_iceberg_native(self.spark, self.table).toArrow()
        stored = sum(_files(self.table).values())
        reads = [s for s in self.tracer.spans if s.name == "sources.read"]
        return {
            "iceberg_native.upsert_s": self.tracer.total("iceberg_native.upsert", ops) / n,
            "sources.read_s": sum(s.seconds for s in reads) / max(1, len(reads)),
            "sources.files_written": sum(w[0] for w in written) / n,
            "sources.bytes_written_mb": sum(w[1] for w in written) / 1e6 / n,
            "sources.metadata_bytes": sum(w[2] for w in written) / n,
            "sources.maintenance_s": self.tracer.total("sources.maintenance", ops) / n,
            "sources.bytes_stored_per_user_byte": stored / live.nbytes,
            **progress_metrics(progress, n),
        }


WORKLOADS = {w.name: w for w in (TpchSql, CorpusPrep, LakehouseLoop)}
