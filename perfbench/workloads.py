"""The two workloads: inputs staged at set-up, one timed run, its checks.

Each workload stages its inputs from the seed (``stage``, repeatable and
timed as set-up), runs every engine call of one complete workload run
(``run``, timed), and checks that run's outputs (``check``, untimed).
A run rebuilds its plans and data from the staged inputs: only the JVM,
the session and the staged files carry over from one run to the next.

An operation is one call into the engine. It fails if it raised, if an
earlier call of the same run raised so it never ran, or if its output is
wrong. Failures are counted, never raised, so one bad run cannot abort
the set.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_wsi_spark import scope
from mapreduce_wsi_spark.operators import dataflow
from mapreduce_wsi_spark.plans import parity, registry
from mapreduce_wsi_spark.plans.flagship import per_key_integer_mean, positional_explode
from mapreduce_wsi_spark.session import Engine
from mapreduce_wsi_spark.sources import jdbc

from perfbench import gen
from perfbench.metrics import CURATION_ENTRIES

SCRIPTS = Path(__file__).resolve().parent / "scripts"
DERBY_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
# Read-only fixture tables whose rows the curation mix permutes and stages:
# the project's sf0.01 oracle set (TESTDATA.md), located as tests/ does.
CURATION_SOURCE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@dataclass
class RunOutput:
    """What one run produced: op -> output for calls that returned,
    op -> error text for the call that raised."""
    outputs: dict = field(default_factory=dict)
    raised: dict = field(default_factory=dict)
    # per-layer counts (rows, lines, bytes); reported from the traced run
    counts: dict = field(default_factory=dict)


class Workload:
    name: str
    ops: tuple[str, ...]
    # untimed runs before the timed ones: the first pays one-time costs
    # (Python worker start, code generation), later ones let the JIT settle
    warmup_runs = 1

    def __init__(self, engine: Engine, work: Path, seed: int, cpus: int):
        self.engine = engine
        self.spark = engine.spark
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.input_rows = 0
        self.input_bytes = 0
        self.sid = None  # the scope staged inputs live in, if any

    def prepare(self) -> dict[str, float]:
        """One-time set-up calls before staging: per-layer metric -> seconds."""
        return {}

    def stage(self) -> None:
        """Generate the inputs from the seed and stage them (set-up)."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Untimed work the checks need once, after staging."""

    def run(self, k: int, tracer, traced: bool) -> RunOutput:
        raise NotImplementedError

    def check(self, k: int, out: RunOutput) -> dict[str, str]:
        """op -> why its output is wrong (untimed)."""
        raise NotImplementedError

    def _drop_scope(self) -> None:
        if self.sid is not None:
            scope.delete_scope(self.spark, self.engine.base_path, self.sid)
            self.sid = None

    def _new_scope(self) -> None:
        """Stage into a fresh scope, dropping the previous staging's."""
        self._drop_scope()
        self.sid = scope.create_scope(self.spark, self.engine.base_path)

    def close(self) -> None:
        """Release what set-up made; the work dir itself is removed by run.py."""
        self._drop_scope()

    def failures(self, k: int, out: RunOutput) -> dict[str, str]:
        """Every op of run ``k`` that did not succeed, with the reason."""
        try:
            bad = self.check(k, out)
        except Exception:  # a broken check fails the run, not the set
            bad = {op: "check raised: " + traceback.format_exc(limit=3)
                   for op in self.ops}
        for op in self.ops:
            if op in out.raised:
                bad[op] = out.raised[op]
            elif op not in out.outputs:
                bad.setdefault(op, "not reached")
        return bad


def _record(out: RunOutput, op: str, fn, *args, **kwargs) -> bool:
    """Run one op; record its output, or the error it raised."""
    try:
        out.outputs[op] = fn(*args, **kwargs)
        return True
    except Exception:
        out.raised[op] = traceback.format_exc(limit=5)
        return False


def _call(out: RunOutput, tracer, op: str, fn, *args, **kwargs) -> bool:
    """``_record`` one engine call inside a span named after it."""
    def spanned():
        with tracer.span(op):
            return fn(*args, **kwargs)
    return _record(out, op, spanned)


def _dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def _diff_means(got: dict[int, int], want: dict[int, int]) -> str | None:
    if got == want:
        return None
    return f"means differ: got {sorted(got.items())} want {sorted(want.items())}"


# --------------------------------------------------------------------------
# The streaming job: scripts over pipes, then the Arrow flavor, same means
# --------------------------------------------------------------------------

def parse_lines(batches):
    """mapInPandas stage: ``a,b,...`` lines -> one (idx, v) row per field."""
    for pdf in batches:
        fields = pdf["value"].str.split(",", expand=True).astype("int64").to_numpy()
        yield pd.DataFrame({
            "idx": np.repeat(np.arange(fields.shape[1], dtype=np.int32), len(fields)),
            "v": fields.T.ravel()})


def reference_mean_of_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas stage: the reducer script's formula for one key."""
    s, n = int(pdf["v"].sum()), len(pdf)
    return pd.DataFrame({"idx": [int(pdf["idx"].iloc[0])],
                         "mean": [(s // n) - (s % n) * 100]})


class StreamingJob(Workload):
    """The reference's job as a Hadoop-Streaming job (the mapper and reducer
    scripts over pipes) and as its Arrow pandas-UDF twin, over seeded text
    lines staged into a scope of its own. Part of ``wsi_roundtrip``."""
    ops = ("operators.dataflow.pipe_map_reduce", "operators.dataflow.arrow_map_reduce")

    def __init__(self, *args):
        super().__init__(*args)
        self.mapper = (SCRIPTS / "mapper.py").read_text()
        self.reducer = (SCRIPTS / "reducer.py").read_text()

    def stage(self) -> None:
        values = gen.script_values(self.seed)
        text = gen.as_text_lines(values)
        self._new_scope()
        lines_dir = Path(self._path("lines"))
        lines_dir.mkdir(parents=True)
        (lines_dir / "part-00000.txt").write_text(text)
        self.expected = gen.expected_means(values)
        self.input_rows = len(values)
        self.input_bytes = len(text)

    def _path(self, name: str) -> str:
        return scope.scope_path(self.engine.base_path, self.sid, name)

    def _arrow(self, k: int) -> None:
        lines = self.spark.read.text(self._path("lines"))
        means = dataflow.arrow_map_reduce(
            lines, parse_lines, "idx int, v long", ["idx"],
            reference_mean_of_group, "idx int, mean long")
        means.write.parquet(self._path(f"arrow_out_{k}"))

    def run(self, k: int, tracer, traced: bool) -> RunOutput:
        out = RunOutput()
        _call(out, tracer, "operators.dataflow.pipe_map_reduce",
              dataflow.pipe_map_reduce, self.engine, self.sid, self.mapper,
              self.reducer, "lines", f"pipe_out_{k}", self.cpus)
        # the Arrow call builds a lazy plan; its span covers the write
        # that executes it
        _call(out, tracer, "operators.dataflow.arrow_map_reduce", self._arrow, k)
        return out

    def check(self, k: int, out: RunOutput) -> dict[str, str]:
        bad = {}
        pipe_dir, arrow_dir = self._path(f"pipe_out_{k}"), self._path(f"arrow_out_{k}")
        if "operators.dataflow.pipe_map_reduce" in out.outputs:
            lines = [ln for part in sorted(Path(pipe_dir).glob("part-*"))
                     for ln in part.read_text().splitlines()]
            got = dict((int(a), int(b)) for a, b in (ln.split("\t") for ln in lines))
            out.counts["operators.dataflow.pipe_map_reduce.lines_in"] = self.input_rows
            out.counts["operators.dataflow.pipe_map_reduce.lines_out"] = len(lines)
            if len(lines) != len(got):
                bad["operators.dataflow.pipe_map_reduce"] = f"duplicate keys in {lines}"
            elif msg := _diff_means(got, self.expected):
                bad["operators.dataflow.pipe_map_reduce"] = msg
        if "operators.dataflow.arrow_map_reduce" in out.outputs:
            rows = pq.ParquetDataset(arrow_dir).read().to_pylist()
            got = {r["idx"]: r["mean"] for r in rows}
            if len(rows) != len(got):
                bad["operators.dataflow.arrow_map_reduce"] = f"duplicate keys in {rows}"
            elif msg := _diff_means(got, self.expected):
                bad["operators.dataflow.arrow_map_reduce"] = msg
        for d in (pipe_dir, arrow_dir):
            shutil.rmtree(d, ignore_errors=True)
        return bad


# --------------------------------------------------------------------------
# wsi_roundtrip: Derby -> scope -> job -> scope -> Derby, then the streaming job
# --------------------------------------------------------------------------

def wsi_job(spark, prefix: str, base_path: str, scope_id: int, run: int, tracer):
    """The round-trip's compiled job, called by ``run_job`` with the scope
    prefix as its first argument: CSV serialize -> positional explode ->
    per-key integer mean -> save into the scope, tagged with the run."""
    imported = spark.read.parquet(f"{prefix}/imported")
    lines = imported.select(F.concat_ws(
        ",", *[F.col(f"NUM{i}").cast("string") for i in range(gen.NUM_COLS)]
    ).alias("value"))
    means = per_key_integer_mean(positional_explode(lines)).select(
        F.lit(run).alias("RUN"), F.col("id").alias("ID"), F.col("mean").alias("MEAN"))
    with tracer.span("scope.save_dataset"):
        scope.save_dataset(means, base_path, scope_id, "means")


class WsiRoundtrip(Workload):
    """The reference's end-to-end test: the mean job runs as a compiled job
    between a Derby import and export, and as a streaming job."""
    name = "wsi_roundtrip"
    warmup_runs = 3
    ops = ("scope.create_scope", "sources.jdbc.import_jdbc",
           "operators.dataflow.run_job", "sources.jdbc.export_jdbc",
           "scope.delete_scope") + StreamingJob.ops
    IMPORT_QUERY = ("SELECT NUM0, NUM1, NUM2, NUM3, NUM4, NUM5, NUM6 "
                    "FROM INPUT_TBL")  # split column ID left out on purpose

    def __init__(self, *args):
        super().__init__(*args)
        self.streaming = StreamingJob(*args)
        self.url = f"jdbc:derby:{self.work / 'derby' / 'bench'};create=true"
        # the benchmark's single Derby connection: set-up DDL and checks
        self.conn = self.spark._jvm.java.sql.DriverManager.getConnection(self.url)

    def _sql(self, *statements: str) -> None:
        st = self.conn.createStatement()
        try:
            for sql in statements:
                st.execute(sql)
        finally:
            st.close()

    def _drop_if_exists(self, table: str) -> None:
        try:
            self._sql(f"DROP TABLE {table}")
        except Exception:  # py4j wraps Derby's "table does not exist"
            pass

    def stage(self) -> None:
        values = gen.wsi_values(self.seed)
        csv_path = self.work / "wsi_input.csv"
        cols = {"ID": np.arange(1, len(values) + 1, dtype=np.int64)}
        cols.update({f"NUM{i}": values[:, i] for i in range(gen.NUM_COLS)})
        pacsv.write_csv(pa.table(cols), csv_path,
                        pacsv.WriteOptions(include_header=False))
        for t in ("INPUT_TBL", "OUTPUT_TBL"):
            self._drop_if_exists(t)
        self._sql(
            "CREATE TABLE INPUT_TBL (ID BIGINT, NUM0 INT, NUM1 INT, NUM2 INT, "
            "NUM3 INT, NUM4 INT, NUM5 INT, NUM6 INT)",
            "CREATE TABLE OUTPUT_TBL (RUN INT, ID INT, MEAN INT)",
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'INPUT_TBL', "
            f"'{csv_path}', ',', null, null, 0)")
        self.expected = gen.expected_means(values)
        self.streaming.stage()
        self.input_rows = len(values) + self.streaming.input_rows
        self.csv_bytes = csv_path.stat().st_size
        self.input_bytes = self.csv_bytes + self.streaming.input_bytes

    def run(self, k: int, tracer, traced: bool) -> RunOutput:
        out = RunOutput()
        self._roundtrip(out, k, tracer, traced)
        streamed = self.streaming.run(k, tracer, traced)
        out.outputs.update(streamed.outputs)
        out.raised.update(streamed.raised)
        return out

    def _roundtrip(self, out: RunOutput, k: int, tracer, traced: bool) -> None:
        eng, base = self.engine, self.engine.base_path
        if not _call(out, tracer, "scope.create_scope",
                     scope.create_scope, self.spark, base):
            return
        sid = out.outputs["scope.create_scope"]
        steps = (
            ("sources.jdbc.import_jdbc", jdbc.import_jdbc,
             (eng, sid, self.url, self.IMPORT_QUERY, "INPUT_TBL.ID", "imported"),
             {"num_partitions": self.cpus, "properties": DERBY_PROPS}),
            ("operators.dataflow.run_job", dataflow.run_job,
             (eng, sid, wsi_job, base, sid, k, tracer), {}),
            ("sources.jdbc.export_jdbc", jdbc.export_jdbc,
             (eng, sid, self.url, "OUTPUT_TBL", "means"),
             {"properties": DERBY_PROPS}),
        )
        for op, fn, args, kwargs in steps:
            if not _call(out, tracer, op, fn, *args, **kwargs):
                break
        if traced and "sources.jdbc.export_jdbc" in out.outputs:
            imported = scope.scope_path(base, sid, "imported")
            out.counts = {
                "sources.jdbc.import_jdbc.rows":
                    pq.ParquetDataset(imported).read(columns=[]).num_rows,
                "sources.jdbc.import_jdbc.partitions":
                    out.outputs["sources.jdbc.import_jdbc"].rdd.getNumPartitions(),
                "scope.bytes_per_input_byte":
                    _dir_bytes(scope.scope_path(base, sid)) / self.csv_bytes,
            }
        # the scope is deleted even when a step failed, so runs don't pile up
        _call(out, tracer, "scope.delete_scope",
              scope.delete_scope, self.spark, base, sid)
        out.outputs["scope_id"] = sid

    def check(self, k: int, out: RunOutput) -> dict[str, str]:
        bad = {}
        if "sources.jdbc.export_jdbc" in out.outputs:
            st = self.conn.createStatement()
            try:
                rs = st.executeQuery(f"SELECT ID, MEAN FROM OUTPUT_TBL WHERE RUN = {k}")
                rows = []
                while rs.next():
                    rows.append((rs.getInt(1), rs.getInt(2)))
            finally:
                st.close()
            got = dict(rows)
            if len(rows) != len(got):
                bad["sources.jdbc.export_jdbc"] = f"duplicate ids in {rows}"
            elif msg := _diff_means(got, self.expected):
                bad["sources.jdbc.export_jdbc"] = msg
            out.counts["sources.jdbc.export_jdbc.rows"] = len(rows)
        sid = out.outputs.get("scope_id")
        if "scope.delete_scope" in out.outputs and os.path.exists(
                scope.scope_path(self.engine.base_path, sid)):
            bad["scope.delete_scope"] = "scope directory still exists"
        bad.update(self.streaming.check(k, out))
        return bad

    def close(self) -> None:
        try:
            self.streaming.close()
            super().close()
        finally:
            self.conn.close()


# --------------------------------------------------------------------------
# curation_mix: catalog entries over permuted fixture tables
# --------------------------------------------------------------------------

class CurationMix(Workload):
    name = "curation_mix"
    ops = CURATION_ENTRIES

    def prepare(self) -> dict[str, float]:
        t0 = time.perf_counter()
        self.catalog = registry.load_catalog()
        return {"plans.registry.load_catalog.s": time.perf_counter() - t0}

    def stage(self) -> None:
        self._new_scope()
        self.sf_dir = scope.scope_path(self.engine.base_path, self.sid)
        rows = nbytes = 0
        for t in parity.FIXTURE_TABLES:
            table = pq.read_table(f"{CURATION_SOURCE}/{t}.parquet")
            perm = gen.permutation(self.seed, t, table.num_rows)
            dest = f"{self.sf_dir}/{t}.parquet"
            pq.write_table(table.take(perm), dest)
            rows += table.num_rows
            nbytes += os.path.getsize(dest)
        self.input_rows, self.input_bytes = rows, nbytes

    def prepare_checks(self) -> None:
        """DuckDB oracle of every entry over the same staged files, once."""
        con = parity.duckdb_connection(self.sf_dir)
        self.oracle = {}
        try:
            for e in CURATION_ENTRIES:
                tbl = con.sql(self.catalog[e].oracle).arrow()
                cols = list(tbl.column_names)
                rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
                self.oracle[e] = (sorted(cols), parity.canon_rows(cols, rows))
        finally:
            con.close()

    def _entry(self, e: str, tracer):
        with tracer.span(f"plans.{e}.build"):
            df = self.catalog[e].fn(self.spark, self.sf_dir)
        with tracer.span(f"plans.{e}.exec"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def run(self, k: int, tracer, traced: bool) -> RunOutput:
        out = RunOutput()
        for e in CURATION_ENTRIES:
            _record(out, e, self._entry, e, tracer)
        return out

    def check(self, k: int, out: RunOutput) -> dict[str, str]:
        bad = {}
        for e in CURATION_ENTRIES:
            if e not in out.outputs:
                continue
            cols, rows = out.outputs[e]
            want_cols, want_rows = self.oracle[e]
            if sorted(cols) != want_cols:
                bad[e] = f"columns differ: {sorted(cols)} vs {want_cols}"
            elif len(rows) != len(want_rows):
                bad[e] = f"row count differs: {len(rows)} vs {len(want_rows)}"
            elif parity.canon_rows(cols, rows) != want_rows:
                bad[e] = "values differ from the DuckDB oracle"
        return bad


WORKLOADS = {w.name: w for w in (WsiRoundtrip, CurationMix)}
