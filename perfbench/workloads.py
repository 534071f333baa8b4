"""The workloads: what each op calls, and the oracle it is checked by.

Each workload is one closed-loop client: it issues an op, waits for the
result, then issues the next. Ops come in passes; ``--seed`` fixes the
inputs and the order of ops inside every pass.

An op's ``fn`` is the timed part. Its ``capture`` runs right after, outside
the timed region, and reduces the result to a fingerprint. The oracle's
fingerprint for the same ``key`` (one distinct (op, input) pair) is computed
once per run, while the JVM starts or after measurement. A mismatch fails
the op.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen

EXEC_PLAN_METRICS = {
    "shuffleRecordsWritten": "exec.shuffle_records_written",
    "spillSize": "exec.spill_bytes",
    "numFiles": "exec.files_scanned",
}

SF_TABLES = tuple(
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash: the canonical form the repo's own
    correctness gate compares engines by (columns sorted by name, values
    stringified, rows sorted)."""
    from tests._compare import canonical

    header = ",".join(sorted(df.columns))
    body = "\x1e".join("\x1f".join(row) for row in canonical(df))
    return hashlib.sha256(f"{header}\x1e{body}".encode()).hexdigest()[:16]


@dataclass
class Op:
    """One request of the closed loop.

    ``fn`` returns the collected result (or None for a write); ``capture``
    turns it into the fingerprint compared against ``key``'s oracle."""

    name: str
    key: str
    fn: Callable[[], object]
    capture: Callable[[object], str | None]


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, seed: int, run_dir: str, tracer):
        self.seed = seed
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "sf")
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.inputs: dict = {}
        self.counters: dict[str, list[float]] = {}
        self._expected: dict[str, str | None] = {}

    def prepare(self) -> dict:
        """Generate the inputs (before set-up; not timed)."""
        self.inputs = gen.write_sf_dir(self.seed, self.sf_dir, self.tables)
        return self.inputs

    def register(self, spark) -> None:
        """Table registration — the second half of set-up."""
        raise NotImplementedError

    def passes(self, spark) -> Iterator[list[Op]]:
        raise NotImplementedError

    def warmup(self, spark) -> list[Op]:
        """A fixed op run before measurement: the JVM's first-touch cost
        (class loading, first codegen) is paid there, not by whichever op
        a seed puts first."""
        raise NotImplementedError

    def oracle_keys(self) -> list[str]:
        """Keys every run checks; their oracles can be computed early."""
        raise NotImplementedError

    def _oracle(self, key: str) -> str | None:
        """The oracle's fingerprint for ``key`` (None: nothing to compare)."""
        raise NotImplementedError

    def expected(self, key: str) -> str | None:
        if key not in self._expected:
            self._expected[key] = self._oracle(key)
        return self._expected[key]

    def precompute(self) -> None:
        for key in self.oracle_keys():
            self.expected(key)

    def note(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(value)

    def close(self) -> None:
        pass

    # ------------------------------------------------------------------ #

    def _duck(self) -> duckdb.DuckDBPyConnection:
        """A DuckDB connection over the generated tables. They are loaded as
        arrow tables in small batches: DuckDB scans a single-row-group
        parquet file on one thread, and the text oracles are CPU-bound."""
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.run_dir}/duck'")
        for t in self.tables:
            table = pq.read_table(f"{self.sf_dir}/{t}.parquet").combine_chunks()
            con.register(t, pa.Table.from_batches(table.to_batches(max_chunksize=1024)))
        return con

    def _collect(self, df) -> pd.DataFrame:
        """The client's fetch of a result — where the exec layer is timed.
        A traced op also sums the executed plan's metrics."""
        with self.tracer.span("exec.collect"):
            out = df.toPandas()
        if self.tracer.enabled:
            from datafusion_distributed_experiment_spark import plans

            with self.tracer.span("trace.executed_metrics"):
                for node in plans.executed_metrics(df):
                    for metric, name in EXEC_PLAN_METRICS.items():
                        self.tracer.count(name, node.get(metric) or 0)
            self.tracer.count("exec.rows_out", len(out))
        return out


# ---------------------------------------------------------------------- #
# tpch_sql
# ---------------------------------------------------------------------- #


class TpchSql(Workload):
    """The 22 TPC-H queries through the driver-contract callables; q15 runs
    as its three-statement script via ``Engine.sql_script``."""

    name = "tpch_sql"
    tables = SF_TABLES

    def __init__(self, seed, run_dir, tracer):
        super().__init__(seed, run_dir, tracer)
        import __spark_entry__ as entry

        self.entry = entry
        qs = entry.queries()
        self.queries = {f"q{i}": qs[f"q{i}"] for i in range(1, 23)}
        self._con: duckdb.DuckDBPyConnection | None = None

    def register(self, spark) -> None:
        self.entry._ensure_registered(spark, self.sf_dir)

    def passes(self, spark) -> Iterator[list[Op]]:
        while True:
            names = list(self.queries)
            self.rng.shuffle(names)
            yield [self._op(spark, n) for n in names]

    def warmup(self, spark) -> list[Op]:
        return [self._op(spark, "q1")]

    def _op(self, spark, name: str) -> Op:
        fn = self.queries[name]
        return Op(
            name,
            name,
            lambda: self._collect(self.tracer.plan(fn(spark, self.sf_dir))),
            frame_hash,
        )

    def oracle_keys(self) -> list[str]:
        return list(self.queries)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()

    def _oracle(self, key: str) -> str:
        if self._con is None:
            self._con = self._duck()
        return frame_hash(self._con.execute(self.entry.oracle_sql()[key]).df())


# ---------------------------------------------------------------------- #
# corpus_curation
# ---------------------------------------------------------------------- #


class CorpusCuration(Workload):
    """Six curation operators over a corpus with injected near-duplicates
    and a noisy embedding set (the first half of ``curation_ingest``)."""

    tables = ("documents", "embeddings")

    def __init__(self, seed, run_dir, tracer):
        super().__init__(seed, run_dir, tracer)
        from datafusion_distributed_experiment_spark.operators import (
            curation,
            dedup,
            pipeline,
            similarity,
            text,
        )

        # (module, attribute): resolved at call time, so a traced run's
        # wrappers are the functions called
        self.ops = {
            "quality_score": (text, "quality_score"),
            "dedup_exact": (dedup, "dedup_exact"),
            "minhash_dedup_pairs": (dedup, "minhash_dedup_pairs"),
            "chunk_documents": (curation, "chunk_documents"),
            "corpus_pipeline": (pipeline, "corpus_pipeline"),
            "embedding_topk": (similarity, "embedding_topk"),
        }
        self._all: dict[str, str] = {}

    def register(self, spark) -> None:
        from datafusion_distributed_experiment_spark import Engine

        failures = Engine(spark).register_sf_dir(self.sf_dir, tables=self.tables)
        if failures:
            raise RuntimeError(f"registration failed: {failures}")

    def passes(self, spark) -> Iterator[list[Op]]:
        while True:
            names = list(self.ops)
            self.rng.shuffle(names)
            yield [self._op(spark, n) for n in names]

    def warmup(self, spark) -> list[Op]:
        return [self._op(spark, "dedup_exact")]

    def _op(self, spark, name: str) -> Op:
        mod, attr = self.ops[name]

        def run():
            return self._collect(self.tracer.plan(getattr(mod, attr)(spark, self.sf_dir)))

        def capture(df: pd.DataFrame) -> str:
            if name == "minhash_dedup_pairs":
                found = set(zip(df["doc_a"].tolist(), df["doc_b"].tolist()))
                injected = self.inputs["injected_pairs"]
                self.note(
                    "operators.dedup.pairs_per_injected_dup",
                    sum(p in found for p in injected) / len(injected),
                )
            return frame_hash(df)

        return Op(name, name, run, capture)

    def oracle_keys(self) -> list[str]:
        return list(self.ops)

    def _oracle(self, key: str) -> str:
        if not self._all:
            self._all = self._oracles()
        return self._all[key]

    def _oracles(self) -> dict[str, str]:
        """Oracle fingerprints of all six ops.

        ``corpus_pipeline``'s own oracle resolves duplicate clusters with a
        recursive CTE that takes tens of seconds at this corpus size; here
        the clusters come from a union-find over the ``minhash_dedup_pairs``
        oracle's pairs (the same pair set the CTE walks: a document is
        dropped when its component's smallest id is not its own), and the
        rest of that oracle's SQL runs unchanged."""
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = self._duck()
        frames = {n: con.execute(sql[n]).df() for n in self.ops if n != "corpus_pipeline"}
        out = {n: frame_hash(f) for n, f in frames.items()}
        pairs = frames["minhash_dedup_pairs"]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # the root is the component minimum
        drop_set = pa.table({"doc_id": [d for d in parent if find(d) != d]})
        con.register("drop_set", drop_set)
        text = sql["corpus_pipeline"]
        cc = re.compile(r"edges AS \(.*?\), drop_set AS \(.*?\), stats AS \(", re.S)
        text, n = cc.subn("stats AS (", text)
        if n != 1:
            raise RuntimeError("corpus_pipeline oracle no longer has the expected CC block")
        out["corpus_pipeline"] = frame_hash(con.execute(text).df())
        con.close()
        return out


# ---------------------------------------------------------------------- #
# events_ingest
# ---------------------------------------------------------------------- #


EVENT_QUERIES = ("events_daily", "events_topk", "events_latest", "events_rolling", "events_agg_count")
_EVENT_COLS = "event_id, ts, user_id, event_type, value, props"


def _fingerprint(con: duckdb.DuckDBPyConnection, relation: str) -> str:
    """Order-insensitive content fingerprint of an events relation."""
    n, s = con.execute(
        f"SELECT count(*), sum(hash({_EVENT_COLS})::HUGEINT) FROM {relation}"
    ).fetchone()
    return f"{n}:{s}"


def _scan(pattern: str) -> str:
    return f"read_parquet('{pattern}', hive_partitioning=false)"


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


@dataclass
class Cycle:
    """What one ingest cycle writes, and what the table must hold after it."""

    batch: pa.Table
    touched: list[dt.date]  # the partitions the merge rewrites
    oldest: dt.date  # the partition the cycle drops
    after_merge: pa.Table
    after_drop: pa.Table


class EventsIngest(Workload):
    """A day-partitioned events table kept at a 30-day window while batches
    land, stream through a windowed aggregate, merge, and get queried.

    The oracle side keeps the expected table contents as arrow tables: a
    write op is checked by the content fingerprint of the files it left, a
    query by its oracle twin run over the expected contents — so a merge
    that lost rows fails even if every later query agreed with it. The
    second half of ``curation_ingest``."""

    def __init__(self, seed, run_dir, tracer):
        super().__init__(seed, run_dir, tracer)
        self.table_dir = os.path.join(run_dir, "events_table")
        self.incoming = os.path.join(run_dir, "incoming")
        self.landing = os.path.join(run_dir, "landing")
        self._days: dict[dt.date, pa.Table] = {}
        self._cycles: list[Cycle] = []
        self.con = self._duck()  # checks of written files
        self._ocon = self._duck()  # oracles

    def prepare(self) -> dict:
        history = gen.write_events_table(self.seed, self.table_dir)
        for i, t in enumerate(history):
            self._days[gen.EVENTS_START + dt.timedelta(i)] = t
        batch = self.cycle(0).batch
        new_day = max(self.cycle(0).touched)
        on_new_day = pc.sum(pc.equal(pc.cast(batch["ts"], pa.date32()), new_day)).as_py()
        self.inputs = {
            "rows": {"events_table": sum(t.num_rows for t in history)},
            "days": len(history),
            "batch_rows": batch.num_rows,
            "late_share": (batch.num_rows - on_new_day) / on_new_day,
        }
        return self.inputs

    def cycle(self, c: int) -> Cycle:
        """The model of cycles 0..c, built in order from the seed."""
        while len(self._cycles) <= c:
            batch, _ = gen.events_batch(self.seed, len(self._cycles))
            day_of = pc.cast(batch["ts"], pa.date32())
            touched = sorted(set(day_of.to_pylist()))
            days = dict(self._days)
            for d in touched:
                rows = batch.filter(pc.equal(day_of, d))
                days[d] = pa.concat_tables([days[d], rows]) if d in days else rows
            after_merge = pa.concat_tables(list(days.values()))
            oldest = min(days)
            del days[oldest]
            self._days = days
            self._cycles.append(
                Cycle(batch, touched, oldest, after_merge, pa.concat_tables(list(days.values())))
            )
        return self._cycles[c]

    def register(self, spark) -> None:
        from datafusion_distributed_experiment_spark import Engine

        self.engine = Engine(spark)
        self.engine.register_parquet("events", self.table_dir)

    def oracle_keys(self) -> list[str]:
        # a run measures two passes, so two cycles
        kinds = ("land", "drain", "merge", "drop", *EVENT_QUERIES)
        return [f"{k}-{c}" for c in range(2) for k in kinds]

    def _oracle(self, key: str) -> str | None:
        kind, c = key.rsplit("-", 1)
        cyc = self.cycle(int(c))
        if kind == "register":
            return None  # checked by the queries that follow it
        if kind in ("land", "merge", "drop"):
            snap = {"land": cyc.batch, "merge": cyc.after_merge, "drop": cyc.after_drop}[kind]
            self._ocon.register("snap", snap)
            return _fingerprint(self._ocon, "snap")
        import __spark_entry__ as entry

        self._ocon.register("events", cyc.batch if kind == "drain" else cyc.after_drop)
        text = entry.oracle_sql()["events_daily" if kind == "drain" else kind]
        return frame_hash(self._ocon.execute(text).df())

    def passes(self, spark) -> Iterator[list[Op]]:
        from datafusion_distributed_experiment_spark import queries as corpus
        from datafusion_distributed_experiment_spark import sources
        from datafusion_distributed_experiment_spark.sources import tables
        from datafusion_distributed_experiment_spark.streaming import events as streaming
        from pyspark.sql import functions as F

        sql = {q: corpus.load(f"adhoc/{q}") for q in EVENT_QUERIES}
        os.makedirs(self.incoming, exist_ok=True)
        c = 0
        while True:
            cyc = self.cycle(c)
            raw = f"{self.incoming}/batch-{c}.parquet"
            pq.write_table(cyc.batch, raw)
            landed = f"{self.landing}/batch-{c}"
            written = [0, 0]  # files and bytes the land step wrote

            def land(raw=raw, landed=landed):
                sources.write_parquet(sources.read_parquet_table(spark, raw), landed)

            def drain(landed=landed):
                stream = streaming.windowed_counts(streaming.read_events_stream(spark, landed))
                return self._collect(streaming.run_to_completion(stream, query_name="ingest_daily"))

            def merge(landed=landed, cyc=cyc):
                days = [d.isoformat() for d in cyc.touched]
                cur = sources.read_parquet_table(spark, self.table_dir).where(F.col("day").isin(days))
                new = sources.read_parquet_table(spark, landed).withColumn("day", F.to_date("ts"))
                self.engine.overwrite_partitions(cur.unionByName(new), self.table_dir, ["day"])

            def drop(cyc=cyc):
                tables.drop_partition_dirs(spark, [f"{self.table_dir}/day={cyc.oldest.isoformat()}"])

            def register():
                self.engine.register_parquet("events", self.table_dir)

            def query(q):
                return lambda: self._collect(self.tracer.plan(self.engine.sql(sql[q])))

            def landed_files(_, landed=landed, written=written):
                files = _parquet_files(landed)
                written[:] = [len(files), sum(os.path.getsize(f) for f in files)]
                return _fingerprint(self.con, _scan(f"{landed}/*.parquet"))

            def merged_files(_, cyc=cyc, raw=raw, written=written):
                files = [
                    f for d in cyc.touched for f in _parquet_files(f"{self.table_dir}/day={d}")
                ]
                self.note("sources.files_written_per_cycle", written[0] + len(files))
                self.note(
                    "sources.bytes_written_per_input_byte",
                    (written[1] + sum(os.path.getsize(f) for f in files)) / os.path.getsize(raw),
                )
                return _fingerprint(self.con, _scan(f"{self.table_dir}/*/*.parquet"))

            def table_files(_):
                self.note("sources.table_files", len(_parquet_files(self.table_dir)))
                return _fingerprint(self.con, _scan(f"{self.table_dir}/*/*.parquet"))

            yield [
                Op("land", f"land-{c}", land, landed_files),
                Op("drain", f"drain-{c}", drain, frame_hash),
                Op("merge", f"merge-{c}", merge, merged_files),
                Op("drop", f"drop-{c}", drop, table_files),
                Op("register", f"register-{c}", register, lambda _: None),
                *(Op(q, f"{q}-{c}", query(q), frame_hash) for q in EVENT_QUERIES),
            ]
            c += 1

    def close(self) -> None:
        self.con.close()
        self._ocon.close()


class CurationIngest(Workload):
    """Each pass runs the six curation operators (seeded order), then one
    ingest cycle. The two halves read and write their own files."""

    name = "curation_ingest"

    def __init__(self, seed, run_dir, tracer):
        super().__init__(seed, run_dir, tracer)
        self.curation = CorpusCuration(seed, run_dir, tracer)
        self.ingest = EventsIngest(seed, run_dir, tracer)
        # one counter store for both halves
        self.ingest.counters = self.curation.counters = self.counters

    def prepare(self) -> dict:
        self.inputs = {**self.curation.prepare(), **self.ingest.prepare()}
        self.inputs["rows"] = {**self.curation.inputs["rows"], **self.ingest.inputs["rows"]}
        return self.inputs

    def register(self, spark) -> None:
        self.curation.register(spark)
        self.ingest.register(spark)

    def oracle_keys(self) -> list[str]:
        return self.curation.oracle_keys() + self.ingest.oracle_keys()

    def _oracle(self, key: str) -> str | None:
        part = self.curation if key in self.curation.ops else self.ingest
        return part.expected(key)

    def warmup(self, spark) -> list[Op]:
        return self.curation.warmup(spark)

    def passes(self, spark) -> Iterator[list[Op]]:
        for cur, ing in zip(self.curation.passes(spark), self.ingest.passes(spark)):
            yield cur + ing

    def close(self) -> None:
        self.ingest.close()


WORKLOADS = {w.name: w for w in (TpchSql, CurationIngest)}
