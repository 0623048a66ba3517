"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one pass as a
closed loop from one driver thread, and checks the pass's outputs.  Its
``install_trace`` wraps the program's entry points in spans, and its
``layer_metrics`` turns one traced pass into per-layer numbers.

- ``adtl_bulk_cli``: the CLI default path, ``adtl-spark parse spec file``
  (``Parser(spec).parse`` -> ``save(format="csv")`` -> ``show_report``).
- ``operator_eager``: registry queries that launch Spark jobs and cut
  lineage while their DataFrame is built, each materialized with a noop
  write.
"""

from __future__ import annotations

import contextlib
import csv
import hashlib
import io
import re
import sys
import time
from pathlib import Path

import adtl_inputs as adtl
import ops_inputs as ops

OPERATOR_QUERIES = ("dedup_cluster", "graph_pagerank", "corpus_kn_bigram")
QUERY_TABLES = {"graph_pagerank": ("lineitem", "supplier")}

_REPORT_ROW = re.compile(r"^\|(\w+)\s*\t\|(\d+)\t\|(\d+)\t\|")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _sha256(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    names = [
        ("spec.compile_s", "s"),
        ("sources.read_s", "s"),
        ("sources.read_jobs", "count"),
        ("plans.build_s", "s"),
        ("plans.build_jobs", "count"),
        ("validate.annotate_s", "s"),
        ("catalyst.plan_s", "s"),
        ("sink.write_s", "s"),
        ("sink.jobs", "count"),
        ("sink.bytes_out", "bytes"),
        ("validate.report_s", "s"),
        ("validate.report_jobs", "count"),
    ]
    names += [(f"rows_out.{t}", "count") for t in adtl.TABLES]
    names += [(f"valid.{t}", "ratio") for t in ("subject", "observation")]
    for q in OPERATOR_QUERIES:
        names += [
            (f"{q}.build_s", "s"),
            (f"{q}.build_jobs", "count"),
            (f"{q}.plan_s", "s"),
            (f"{q}.exec_s", "s"),
            (f"{q}.jobs", "count"),
            (f"{q}.cuts", "count"),
            (f"{q}.cut_s", "s"),
        ]
    names += [("session.cut_s", "s"), ("trace.overhead_s", "s")]
    return names


class AdtlBulkCli:
    name = "adtl_bulk_cli"

    def __init__(self, spark, tracer, work: Path, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.shape = adtl.BULK
        self.out_prefix = work / "out" / "bulk"
        self.reference_digest: str | None = None
        self.report = ""

    # ---------------------------------------------------------------- set-up

    def generate(self) -> None:
        self.inputs = adtl.write_inputs(self.shape, self.seed, self.work / "in")
        self.expected = adtl.expected_counts_from_file(self.shape, self.inputs.source)
        self.source_rows = self.inputs.source_rows
        self.out_prefix.parent.mkdir(parents=True, exist_ok=True)

    def _outputs(self) -> list[Path]:
        return [Path(f"{self.out_prefix}-{t}.csv") for t in adtl.TABLES]

    # ------------------------------------------------------------------ pass

    def run_pass(self) -> None:
        from adtl_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(
                ["parse", str(self.inputs.spec), str(self.inputs.source), "-o", str(self.out_prefix)]
            )
        if rc != 0:
            raise RuntimeError(f"adtl-spark parse exited with {rc}")
        self.report = buf.getvalue()

    def check_pass(self) -> list[str]:
        """The printed report must match the oracle's totals, and the CSV
        outputs must match the first pass byte for byte."""
        errors = []
        seen = {}
        for line in self.report.splitlines():
            m = _REPORT_ROW.match(line)
            if m:
                seen[m.group(1)] = (int(m.group(2)), int(m.group(3)))
        for table, valid in self.expected["valid"].items():
            want = (valid, self.expected["rows"][table])
            if seen.get(table) != want:
                errors.append(f"report {table}: got (valid, total) {seen.get(table)}, want {want}")
        digest = _sha256(self._outputs())
        if self.reference_digest is None:
            self.reference_digest = digest
        elif digest != self.reference_digest:
            errors.append("CSV output digest differs from the first pass")
        return errors

    def first_pass(self) -> list[str]:
        """Untimed first pass, checked in full: rows out and valid rows per
        table, read back from the CSV files, against the oracle."""
        self.run_pass()
        errors = self.check_pass()
        self.rows_out: dict[str, int] = {}
        self.valid_out: dict[str, int] = {}
        for table, path in zip(adtl.TABLES, self._outputs()):
            with open(path, newline="") as fp:
                rows = list(csv.DictReader(fp))
            self.rows_out[table] = len(rows)
            want = self.expected["rows"][table]
            if len(rows) != want:
                errors.append(f"{path.name}: {len(rows)} rows, want {want}")
            if table in self.expected["valid"]:
                valid = self.valid_out[table] = sum(r["adtl_valid"] == "True" for r in rows)
                if valid != self.expected["valid"][table]:
                    errors.append(
                        f"{path.name}: {valid} valid rows, want {self.expected['valid'][table]}"
                    )
        return errors

    # ----------------------------------------------------------------- trace

    def install_trace(self) -> None:
        import adtl_spark.api as api
        import adtl_spark.sources.io as sources_io

        tracer = self.tracer
        tracer.wrap(api, "CompiledSpec", "spec.compile")
        tracer.wrap(api, "read_source", "sources.read")
        tracer.wrap(api, "build_all_tables", "plans.build")
        tracer.wrap(api, "annotate_validation", "validate.annotate")
        tracer.wrap(api, "validation_report", "validate.report")

        tracer.wrap(api, "write_csv_single", "sink.write")

        def render(original):
            # write_csv_single collects the Dataset _csv_render returns;
            # planning it here fills its lazily computed executedPlan,
            # which toPandas then reuses, so the span is the sink's own
            # planning and not a second pass over it
            def wrapper(*args, **kwargs):
                df = original(*args, **kwargs)
                if tracer.enabled:
                    with tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                return df

            return wrapper

        tracer.patch(sources_io, "_csv_render", render)

    def layer_metrics(self, layers: dict[str, dict]) -> dict[str, float]:
        def get(layer: str, key: str) -> float:
            return layers.get(layer, {}).get(key, 0)

        out = {
            "spec.compile_s": get("spec.compile", "self_s"),
            "sources.read_s": get("sources.read", "self_s"),
            "sources.read_jobs": get("sources.read", "jobs"),
            "plans.build_s": get("plans.build", "self_s"),
            "plans.build_jobs": get("plans.build", "jobs"),
            "validate.annotate_s": get("validate.annotate", "self_s"),
            "catalyst.plan_s": get("catalyst.plan", "self_s"),
            "sink.write_s": get("sink.write", "self_s"),
            "sink.jobs": get("sink.write", "jobs"),
            "sink.bytes_out": sum(p.stat().st_size for p in self._outputs()),
            "validate.report_s": get("validate.report", "self_s"),
            "validate.report_jobs": get("validate.report", "jobs"),
        }
        # read back from the first pass's CSVs; later passes match them
        # byte for byte
        for table, rows in self.rows_out.items():
            out[f"rows_out.{table}"] = rows
            if table in self.valid_out:
                out[f"valid.{table}"] = self.valid_out[table] / rows
        return out


class OperatorEager:
    name = "operator_eager"
    queries = OPERATOR_QUERIES

    def __init__(self, spark, tracer, work: Path, seed: int) -> None:
        from adtl_spark import queries

        self.spark = spark
        self.tracer = tracer
        self.sf_dir = work / "sf"
        self.query_fns = {q: queries.all_queries()[q] for q in self.queries}
        self.reference: dict[str, tuple] = {}
        self.digests: dict[str, tuple] = {}
        self.current = ""

    def generate(self) -> None:
        # fixed tables whatever --seed says, like the repository's seed-42
        # test data: dedup_cluster's job count follows the near-duplicate graph,
        # which changes with the seed (43-55 jobs over seeds 11-14)
        self.table_rows = ops.write_inputs(ops.OPS, ops.FIXED_SEED, self.sf_dir)
        self.source_rows = sum(
            sum(self.table_rows[t] for t in QUERY_TABLES.get(q, ("documents",)))
            for q in self.queries
        )

    # ------------------------------------------------------------------ pass

    def _observed(self, q: str, df):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"digest_{q}")
        cols = [F.col(f"`{c}`") for c in df.columns]
        return obs, df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*cols)).alias("hash"),
        )

    def _build(self, q: str):
        self.current = q
        with self.tracer.span(f"{q}.build"):
            df = self.query_fns[q](self.spark, str(self.sf_dir))
        return self._observed(q, df)

    def run_pass(self) -> None:
        span = self.tracer.span
        for q in self.queries:
            obs, df = self._build(q)
            if self.tracer.enabled:
                with span(f"{q}.plan"):
                    df._jdf.queryExecution().executedPlan()
            with span(f"{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
            got = obs.get
            self.digests[q] = (got["rows"], got["hash"])

    def check_pass(self) -> list[str]:
        return [
            f"{q}: output digest {self.digests.get(q)} differs from the checked pass {want}"
            for q, want in self.reference.items()
            if self.digests.get(q) != want
        ]

    def first_pass(self) -> list[str]:
        """Untimed first pass: collect every query, compare it with its
        DuckDB twin from ``queries.oracles()`` and keep its digest."""
        import duckdb

        from adtl_spark.queries import oracles

        twins = oracles()
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir / t}.parquet'")
            errors = []
            for q in self.queries:
                t0 = time.perf_counter()
                obs, df = self._build(q)
                got = df.toPandas()
                digest = obs.get
                self.reference[q] = (digest["rows"], digest["hash"])
                t1 = time.perf_counter()
                diff = compare_frames(got, con.execute(twins[q]).df())
                if diff:
                    errors.append(f"{q}: differs from its DuckDB twin: {diff}")
                log(f"cold {q}: spark {t1 - t0:.2f} s, check {time.perf_counter() - t1:.2f} s")
            return errors
        finally:
            con.close()

    # ----------------------------------------------------------------- trace

    def install_trace(self) -> None:
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pyspark < 4
            from pyspark.sql import DataFrame

        tracer = self.tracer

        def cut(original):
            def wrapper(*args, **kwargs):
                # named at call time: the query being built owns the cut
                with tracer.span(f"{self.current}:session.cut"):
                    return original(*args, **kwargs)

            return wrapper

        tracer.patch(DataFrame, "localCheckpoint", cut)
        tracer.patch(DataFrame, "checkpoint", cut)

    def layer_metrics(self, layers: dict[str, dict]) -> dict[str, float]:
        out: dict[str, float] = {}
        for q in self.queries:
            build = layers.get(f"{q}.build", {})
            plan = layers.get(f"{q}.plan", {})
            exec_ = layers.get(f"{q}.exec", {})
            cut = layers.get(f"{q}:session.cut", {})
            # the registry function's whole call, its cuts included
            out[f"{q}.build_s"] = build.get("incl_s", 0.0)
            out[f"{q}.build_jobs"] = build.get("jobs", 0)
            out[f"{q}.plan_s"] = plan.get("self_s", 0.0)
            out[f"{q}.exec_s"] = exec_.get("self_s", 0.0)
            out[f"{q}.jobs"] = build.get("jobs", 0) + plan.get("jobs", 0) + exec_.get("jobs", 0)
            out[f"{q}.cuts"] = cut.get("calls", 0)
            out[f"{q}.cut_s"] = cut.get("self_s", 0.0)
        out["session.cut_s"] = sum(
            v.get("self_s", 0.0) for k, v in layers.items() if k.endswith(":session.cut")
        )
        return out


def compare_frames(spark_df, oracle_df) -> str | None:
    """Order-insensitive equality of two pandas frames: row count, column
    names, then values column by column (floats compared as floats)."""
    if len(spark_df) != len(oracle_df):
        return f"row count {len(spark_df)} vs {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"

    def normal(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    a, b = normal(spark_df), normal(oracle_df)
    for c in a.columns:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = a[c].astype(float), b[c].astype(float)
            same = (x == y) | (x.isna() & y.isna())
        else:
            same = a[c].astype(str) == b[c].astype(str)
        if not same.all():
            i = (~same).idxmax()
            return f"column {c} row {i}: {a[c][i]!r} vs {b[c][i]!r}"
    return None


WORKLOADS = {w.name: w for w in (AdtlBulkCli, OperatorEager)}
