"""The benchmark's workloads: inputs, jobs and output checks.

A workload is a list of jobs run one after another by one client (a
batch job in one driver process).  Each job takes ``(spark, tracer)``
and returns its collected output; ``check`` compares an output with the
expected value computed once per seed outside the timed passes.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import sys
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import inputs

ROOT = Path(__file__).resolve().parent.parent


def _oracle_helpers():
    """``_norm_cell``/``_hash_rows`` of the repository's oracle checker:
    the canonical order-insensitive hash every oracle comparison uses."""
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        import check_oracle
    finally:
        sys.path.remove(str(ROOT / "tools"))
    return check_oracle


def fingerprint(pdf) -> dict:
    """Row count, column names and value hash of a pandas frame."""
    co = _oracle_helpers()
    cols = list(pdf.columns)
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return {"rows": len(rows), "cols": sorted(cols),
            "hash": co._hash_rows(cols, rows)}


@dataclass
class Job:
    name: str
    run: Callable  # (spark, tracer) -> output
    check: Callable  # (output, expected) -> error message or None
    query: str | None = None  # registered query name, if any


@dataclass
class Workload:
    name: str
    ctx: dict = field(default_factory=dict)
    tag: str = ""  # names the input directory: workload and input size

    # -- hooks overridden per workload ----------------------------------
    def make_inputs(self, work: Path, seed: int) -> None:
        raise NotImplementedError

    def expected(self) -> dict:
        raise NotImplementedError

    def setup(self, spark, tracer) -> None:
        """Work a one-shot job pays before its first pass (timed as
        part of ``setup_s``)."""

    def jobs(self) -> list[Job]:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Remove what the program wrote outside the input directory."""


# -------------------------------------------------------------------------
# registered queries over the fixture tables (llm_prep)
# -------------------------------------------------------------------------


def _query_job(name: str, tables: str) -> Job:
    from artis_data_ingest_spark import plans

    fn = plans.all_queries()[name].fn

    def run(spark, tracer):
        with tracer.span("plans.build"):
            df = fn(spark, tables)
        with tracer.span("collect"):
            pdf = df.toPandas()
        tracer.count("collect.rows", len(pdf))
        return pdf

    def check(pdf, exp):
        got = fingerprint(pdf)
        if got != exp:
            return f"{name}: got {got}, oracle {exp}"
        return None

    return Job(name, run, check, query=name)


def _materialized(sql: str) -> str:
    """Mark every CTE ``MATERIALIZED``.  DuckDB inlines CTEs, so an
    oracle whose round ``i`` reads round ``i-1`` twice (k-core's eight
    peel rounds) re-evaluates its first round 2^8 times; materialized,
    each round runs once.  The result is the same."""
    return re.sub(r"\b(\w+\s+AS)\s*\(", r"\1 MATERIALIZED (", sql)


class QueryWorkload(Workload):
    """Registered queries over seeded fixture tables; outputs checked
    against the query's DuckDB oracle SQL."""

    def __init__(self, name: str, queries: list[str], scale: float):
        super().__init__(name)
        self.queries = queries
        self.scale = scale
        self.tag = f"{name}-x{scale}"

    def make_inputs(self, work: Path, seed: int) -> None:
        tables = work / "tables"
        done = tables / "_rows.json"
        if not done.exists():
            rows = inputs.write_tables(tables, seed, self.scale)
            done.write_text(json.dumps(rows))
        rows = json.loads(done.read_text())
        self.ctx.update(
            work=work, tables=str(tables),
            input_rows=sum(rows.values()),
            input_bytes=inputs.input_bytes(tables),
        )

    def expected(self) -> dict:
        cache = Path(self.ctx["work"]) / "oracle.json"
        have = json.loads(cache.read_text()) if cache.exists() else {}
        missing = [q for q in self.queries if q not in have]
        if missing:
            import duckdb

            from artis_data_ingest_spark import plans
            from artis_data_ingest_spark.sources.tables import TABLES

            reg = plans.all_queries()
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{self.ctx['tables']}/{t}.parquet'")
                for q in missing:
                    have[q] = fingerprint(
                        con.execute(_materialized(reg[q].oracle)).df())
            finally:
                con.close()
            tmp = cache.with_suffix(".tmp")
            tmp.write_text(json.dumps(have))
            tmp.replace(cache)
        return have

    def jobs(self) -> list[Job]:
        return [_query_job(q, self.ctx["tables"]) for q in self.queries]


# -------------------------------------------------------------------------
# snapshot_ingest: the reference's changelog pipeline plus a versioned sink
# -------------------------------------------------------------------------


def _basename(path) -> str | None:
    return None if path is None else str(path).rstrip("/").rsplit("/", 1)[-1]


class SnapshotWorkload(Workload):
    """Changelog of two snapshot directories, key-column diff, MERGE of
    the new snapshot into a versioned table, change-feed read-back."""

    def __init__(self, name: str, n_csv: int, rows_per_file: int,
                 n_xlsx: int):
        super().__init__(name)
        self.n_csv, self.rows_per_file, self.n_xlsx = (
            n_csv, rows_per_file, n_xlsx)
        self.tag = f"{name}-{n_csv}x{rows_per_file}x{n_xlsx}"

    def make_inputs(self, work: Path, seed: int) -> None:
        snap = work / "snapshots"
        if not (snap / "manifest.json").exists():
            inputs.write_snapshots(snap, seed, self.n_csv,
                                   self.rows_per_file, self.n_xlsx)
        files = json.loads((snap / "manifest.json").read_text())
        rows = sum(len(f.get("old_rows") or []) + len(f.get("new_rows") or [])
                   for f in files)
        self.ctx.update(
            work=work, old=str(snap / "old"), new=str(snap / "new"),
            files=files, input_rows=rows,
            input_bytes=inputs.input_bytes(snap / "old")
            + inputs.input_bytes(snap / "new"),
            table=str(work / "out" / "table"),
            ckpt=str(work / "out" / "feed_ckpt"),
            new_csv_bytes=sum(
                p.stat().st_size for p in (snap / "new").glob("*.csv")),
        )
        self.cleanup()

    def cleanup(self) -> None:
        if self.ctx:
            shutil.rmtree(Path(self.ctx["work"]) / "out", ignore_errors=True)

    # -- expected values ------------------------------------------------
    def expected(self) -> dict:
        cache = Path(self.ctx["work"]) / "expected_tables.json"
        if not cache.exists():
            tmp = cache.with_suffix(".tmp")
            tmp.write_text(json.dumps(self._expected_tables()))
            tmp.replace(cache)
        return json.loads(cache.read_text())

    def _expected_tables(self) -> dict:
        """Fingerprints of the new snapshot's rows (what the feed reads)
        and of the merged table, from DuckDB reads of the CSV files."""
        import duckdb

        files = self.ctx["files"]
        new_csv = [f for f in files if f["new"] and f["new"].endswith(".csv")]
        old_csv = [f for f in files if f["old"] and f["old"].endswith(".csv")]

        def union(snap: str, fs: list[dict]) -> str:
            return " UNION ALL ".join(
                f"SELECT '{f['files_std']}' AS dataset, "
                "CAST(country AS BIGINT) AS country, species, "
                "CAST(year AS BIGINT) AS year, "
                "CAST(quantity AS DOUBLE) AS quantity "
                f"FROM read_csv_auto('{self.ctx[snap]}/{f[snap]}')"
                for f in fs
            )

        keys = " AND ".join(f"o.{k} = n.{k}" for k in inputs.KEY_COLS)
        con = duckdb.connect()
        try:
            source = con.execute(union("new", new_csv)).df()
            state = con.execute(
                f"WITH n AS ({union('new', new_csv)}), "
                f"o AS ({union('old', old_csv)}) "
                "SELECT * FROM n UNION ALL "
                f"SELECT o.* FROM o ANTI JOIN n ON {keys}"
            ).df()
        finally:
            con.close()
        return {"source": fingerprint(source), "state": fingerprint(state)}

    # -- jobs -------------------------------------------------------------
    def setup(self, spark, tracer) -> None:
        from artis_data_ingest_spark.streaming.source import (
            register_versioned_feed,
        )

        register_versioned_feed(spark)
        self.ctx["spark"] = spark

    def jobs(self) -> list[Job]:
        state: dict = {}
        return [
            Job("base", self._base, self._check_base),
            Job("changelog", functools.partial(self._changelog, state),
                self._check_changelog),
            Job("column_diff", functools.partial(self._column_diff, state),
                self._check_column_diff),
            Job("merge", functools.partial(self._merge, state),
                self._check_merge),
            Job("feed", functools.partial(self._feed, state),
                self._check_feed),
        ]

    def _base(self, spark, tracer):
        """Commit the old snapshot as version 0 of a new table: the
        initial ingest the merge builds on.  Every pass starts from no
        table and no feed checkpoint, so every pass does the same work."""
        from pyspark.sql import functions as F

        from artis_data_ingest_spark.sinks import versioned
        from artis_data_ingest_spark.sources.files import read_csv_inferred

        self.cleanup()
        parts = [
            _project(read_csv_inferred(
                spark, f"{self.ctx['old']}/{f['old']}"), f["files_std"], F)
            for f in self.ctx["files"]
            if f["old"] and f["old"].endswith(".csv")
        ]
        return versioned.commit(functools.reduce(_union, parts),
                                self.ctx["table"], mode="overwrite",
                                note="base snapshot")

    def _changelog(self, state, spark, tracer):
        from artis_data_ingest_spark.operators.changelog import (
            assess_changes,
            default_pair_reader,
        )

        state.clear()
        state["reader"] = functools.lru_cache(maxsize=None)(
            lambda p: default_pair_reader(spark, p))
        log, diffs = assess_changes(spark, self.ctx["old"], self.ctx["new"],
                                    reader=state["reader"])
        with tracer.span("collect"):
            state["log"] = log.collect()
            out = {"log": state["log"], "diffs": diffs.collect()}
        tracer.count("collect.rows", len(out["log"]) + len(out["diffs"]))
        return out

    def _column_diff(self, state, spark, tracer):
        from pyspark.sql import functions as F

        from artis_data_ingest_spark.operators.diff import column_set_diff

        parts = [
            column_set_diff(state["reader"](r.old), state["reader"](r.new),
                            "species", "species")
            .withColumn("files_std", F.lit(r.files_std))
            for r in state["log"]
            if r.exists_in_old and r.exists_in_new
            and r.old.endswith(".csv") and r.new.endswith(".csv")
        ]
        with tracer.span("collect"):
            rows = functools.reduce(_union, parts).collect()
        tracer.count("collect.rows", len(rows))
        return rows

    def _merge(self, state, spark, tracer):
        from pyspark.sql import functions as F

        from artis_data_ingest_spark.sinks.versioned import merge_commit

        source = functools.reduce(_union, [
            _project(state["reader"](r.new), r.files_std, F)
            for r in state["log"]
            if r.exists_in_new and r.new.endswith(".csv")
        ])
        before = _dir_usage(self.ctx["table"])
        version = merge_commit(spark, self.ctx["table"], source,
                               keys=inputs.KEY_COLS, note="new snapshot")
        after = _dir_usage(self.ctx["table"])
        written = after[1] - before[1]
        tracer.count("sinks.files_written", after[0] - before[0])
        tracer.count("sinks.bytes_written_mb", written / 1e6)
        tracer.count("sinks.write_amp", written / self.ctx["new_csv_bytes"])
        state["version"] = version
        return version

    def _feed(self, state, spark, tracer):
        version = state["version"]
        name = f"feed_v{version}"
        with tracer.span("streaming.feed_read"):
            q = (
                spark.readStream.format("versioned_feed")
                .option("path", self.ctx["table"])
                .option("startingVersion", str(version - 1))
                .load()
                .writeStream.format("memory").queryName(name)
                .option("checkpointLocation", f"{self.ctx['ckpt']}/{name}")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
            pdf = spark.table(name).toPandas()
            spark.catalog.dropTempView(name)
        tracer.count("streaming.feed_rows", len(pdf))
        return pdf

    # -- checks -------------------------------------------------------------
    def _check_base(self, version, exp):
        return None if version == 0 else f"base commit made version {version}"

    def _check_changelog(self, out, exp):
        want = {f["files_std"]: f for f in self.ctx["files"]}
        got = {r.files_std: r for r in out["log"]}
        if set(got) != set(want):
            return f"changelog keys {sorted(got)} != {sorted(want)}"
        for k, f in want.items():
            r = got[k]
            if (_basename(r.old), _basename(r.new)) != (f["old"], f["new"]):
                return f"changelog {k}: files {r.old}, {r.new}"
            if (r.exists_in_old, r.exists_in_new) != (
                    f["old"] is not None, f["new"] is not None):
                return f"changelog {k}: existence flags"
        pairs = {f["files_std"]: f for f in self.ctx["files"]
                 if f["old"] and f["new"]}
        diffs = {r.files_std: r for r in out["diffs"]}
        if set(diffs) != set(pairs):
            return f"pair diffs {sorted(diffs)} != {sorted(pairs)}"
        for k, f in pairs.items():
            d = diffs[k]
            old_t, new_t = f["old_types"], f["new_types"]
            want_d = (
                len(f["old_rows"]), len(f["new_rows"]),
                len(f["old_header"]), len(f["new_header"]),
                sorted(set(new_t) - set(old_t)),
                sorted(set(old_t) - set(new_t)),
                sorted((c, old_t[c], new_t[c]) for c in old_t
                       if c in new_t and old_t[c] != new_t[c]),
            )
            got_d = (
                d.nrow_old, d.nrow_new, d.ncol_old, d.ncol_new,
                list(d.added_cols), list(d.removed_cols),
                sorted((t.column, t.old_type, t.new_type)
                       for t in d.type_changes),
            )
            if got_d != want_d:
                return f"pair diff {k}: got {got_d}, want {want_d}"
        return None

    def _check_column_diff(self, rows, exp):
        got = sorted((r.files_std, r.species) for r in rows)
        want = sorted(
            (f["files_std"], s) for f in self.ctx["files"]
            if f["old"] and f["new"] and f["new"].endswith(".csv")
            for s in f["removed_species"]
        )
        return None if got == want else f"column diff {got} != {want}"

    def _check_merge(self, version, exp):
        from artis_data_ingest_spark.sinks.versioned import read_version

        got = fingerprint(read_version(
            self.ctx["spark"], self.ctx["table"], version).toPandas())
        if got != exp["state"]:
            return f"merged table {got} != expected {exp['state']}"
        return None

    def _check_feed(self, pdf, exp):
        got = fingerprint(pdf[["dataset", "country", "species", "year",
                               "quantity"]])
        if got != exp["source"]:
            return f"feed rows {got} != new snapshot {exp['source']}"
        return None


def _project(df, dataset: str, F):
    return df.select(
        F.lit(dataset).alias("dataset"),
        F.col("country").cast("bigint").alias("country"),
        F.col("species"),
        F.col("year").cast("bigint").alias("year"),
        F.col("quantity").cast("double").alias("quantity"),
    )


def _union(a, b):
    return a.unionByName(b)


def _dir_usage(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# -------------------------------------------------------------------------

LLM_QUERIES = ["q_dup_clusters", "q_semantic_dedup", "q_kcore"]


def make(name: str) -> Workload:
    """The workloads; ``README.md`` says why each was chosen."""
    if name == "llm_prep":
        return QueryWorkload(name, LLM_QUERIES, scale=0.1)
    if name == "snapshot_ingest":
        return SnapshotWorkload(name, n_csv=2, rows_per_file=4000, n_xlsx=1)
    raise KeyError(name)


WORKLOADS = ["llm_prep", "snapshot_ingest"]
