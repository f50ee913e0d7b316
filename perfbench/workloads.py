"""The benchmark's workloads: what one pass calls, and how its outputs
are verified.

Each workload calls the engine only through public entry points
(``QUERIES[name].fn``, the curation operators, and the ``io``,
``audit`` and ``pipeline`` functions).  ``Runner.call`` wraps every
call in a span named after the called function and its layer, and
records failures: a call that raises, times out, or returns a result
that differs from the verified one counts as failed.

Verification runs on the first warm-up pass, outside every timed
region: catalog results go through the DuckDB oracle harness of the
test suite, the curation funnel's gate counts through the same
composition of the oracles in DuckDB, and the medallion layers are
reconciled against each other and against DuckDB's cleaning of the
raw CSV.  Timed passes then check each call's result fingerprint
(its row count, or counts) against the verified pass.
"""

from __future__ import annotations

import codecs
import glob
import os
import threading
import time
import traceback

import gen

# star tables read by the relational workload
_STAR = "region nation customer supplier part orders lineitem".split()


class Runner:
    """Executes calls for one pass; owns spans, failures and the
    fingerprints recorded by the verified pass."""

    def __init__(self, spark, spans, oracle, timeout_s: float) -> None:
        self.spark = spark
        self.spans = spans
        self.oracle = oracle
        self.timeout_s = timeout_s
        self.verify = False
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.expected: dict[str, object] = {}
        self.verify_s = 0.0

    def _fail(self, name: str, cause: str) -> None:
        self.failures.append((name, cause))

    def call(self, layer: str, name: str, thunk, check=None):
        """Run ``thunk`` in a span; it returns ``(fingerprint, obj)``.
        On the verified pass ``check(obj)`` runs untimed; later passes
        compare the fingerprint.  Returns ``obj`` or ``None`` on
        failure."""
        self.attempted += 1
        sc = self.spark.sparkContext
        timer = threading.Timer(self.timeout_s, sc.cancelAllJobs)
        timer.start()
        try:
            with self.spans.span(f"{layer}.{name}", layer):
                fp, obj = thunk()
        except Exception as ex:  # a failed call is data, not a crash
            timed_out = not timer.is_alive()
            cause = "timed out" if timed_out else (
                f"raised {type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
                if str(ex) else f"raised {type(ex).__name__}")
            self._fail(name, cause)
            return None
        finally:
            timer.cancel()
        key = f"{layer}.{name}"
        if self.verify:
            t0 = time.perf_counter()
            try:
                if check is not None:
                    check(obj)
                self.expected[key] = fp
            except Exception as ex:
                self._fail(name, "verification: " + (
                    str(ex).splitlines()[0][:300] if str(ex)
                    else traceback.format_exc(limit=1).strip()[-300:]))
                self.expected[key] = fp
                return obj
            finally:
                self.verify_s += time.perf_counter() - t0
        elif key in self.expected and self.expected[key] != fp:
            self._fail(name, f"result {fp} differs from verified "
                             f"{self.expected[key]}")
        return obj


def _collect(df):
    rows = df.collect()
    return len(rows), df


class Workload:
    """One named input set and the calls a pass makes on it."""

    name = ""
    documents: int | None = None
    # untimed passes in the set-up: enough that JIT compilation of
    # the pass's hot code has settled before the timed passes begin
    # (with two, the first timed passes still ran 20-30% slower and
    # burned 50-80% more CPU than the later ones)
    warmup_passes = 4

    def make_inputs(self, dst: str, seed: int) -> dict:
        n = gen.make_tables(dst, seed, self.documents)
        return {"dir": dst, "rows": n}

    def input_rows(self, inp: dict) -> int:
        raise NotImplementedError

    def run_pass(self, r: Runner, inp: dict, pass_dir: str) -> None:
        raise NotImplementedError

    def pass_stats(self, inp: dict, pass_dir: str) -> dict:
        return {}


def queries() -> dict:
    """The engine's query registry, with every catalog module loaded."""
    from dados_publicos_etl_spark.plans import QUERIES
    from dados_publicos_etl_spark.plans import catalog  # noqa: F401

    return QUERIES


def _catalog_call(r: Runner, layer: str, qname: str, d: str) -> None:
    spec = queries()[qname]
    check = None
    if spec.oracle is not None:
        def check(df, spec=spec):
            r.oracle.compare(df, spec.oracle, d)
    r.call(layer, qname, lambda: _collect(spec.fn(r.spark, d)), check)


class StarSql(Workload):
    """TPC-H queries over the star tables, each collected: the JVM
    relational path, with no Python workers, streaming or layer
    writes."""

    name = "star_sql"
    queries = ["q1_pricing_summary", "q3_shipping_priority",
               "q6_forecast_revenue_sql"]

    def input_rows(self, inp):
        return sum(inp["rows"][t] for t in _STAR)

    def run_pass(self, r, inp, pass_dir):
        for q in self.queries:
            _catalog_call(r, "plans", q, inp["dir"])


class StreamMicrobatch(Workload):
    """Catalog queries that start a ``StreamingQuery`` over ``events``
    and drive it to completion with ``processAllAvailable``: state-store
    open and commit and per-batch planning."""

    name = "stream_microbatch"
    queries = ["stream_true_streaming", "stream_dedup_watermark"]

    def input_rows(self, inp):
        return inp["rows"]["events"]

    def run_pass(self, r, inp, pass_dir):
        for q in self.queries:
            _catalog_call(r, "streaming", q, inp["dir"])


def _funnel_gates() -> dict:
    """Per gate of ``examples/curation_pipeline.py`` that the workload
    runs: how it narrows the kept set in Spark, and the same step over
    the gate's catalog oracle in DuckDB (``prev`` is the kept set
    before the gate)."""
    from pyspark.sql import functions as F

    from dados_publicos_etl_spark.operators.corpus import (
        gopher_quality_rules,
    )
    from dados_publicos_etl_spark.operators.dedup import dedup_exact

    return {
        "gopher_quality_rules": (
            lambda keep, s, d: gopher_quality_rules(s, d).filter(
                "gopher_keep"),
            "SELECT doc_id FROM gopher_quality_rules WHERE gopher_keep"),
        "dedup_exact": (
            lambda keep, s, d: keep.join(dedup_exact(s, d).select(
                F.col("keeper_doc_id").alias("doc_id")), "doc_id"),
            "SELECT k.doc_id FROM prev k JOIN dedup_exact e "
            "ON k.doc_id = e.keeper_doc_id"),
    }


def funnel_oracle_counts(oracle, d: str, gates: list[str]) -> list[int]:
    """Gate counts of the curation funnel, composed in DuckDB from
    the catalog oracles of its operators."""
    steps = _funnel_gates()
    con = oracle.duckdb_con(d)
    try:
        con.execute("CREATE TEMP TABLE prev AS SELECT doc_id FROM documents")
        counts = [con.execute("SELECT count(*) FROM prev").fetchone()[0]]
        for name in gates:
            con.execute(f"CREATE TEMP VIEW {name} AS "
                        f"{queries()[name].oracle}")
            con.execute(f"CREATE TEMP TABLE nxt AS {steps[name][1]}")
            con.execute("DROP TABLE prev")
            con.execute("ALTER TABLE nxt RENAME TO prev")
            counts.append(con.execute("SELECT count(*) FROM prev").fetchone()[0])
        return counts
    finally:
        con.close()


class LlmCuration(Workload):
    name = "llm_curation"
    documents = 5_000
    gates = ["gopher_quality_rules", "dedup_exact"]

    def input_rows(self, inp):
        return inp["rows"]["documents"]

    def run_pass(self, r, inp, pass_dir):
        from dados_publicos_etl_spark.io import read_table

        spark, d = r.spark, inp["dir"]
        steps = _funnel_gates()
        n = r.call("io", "read_table", lambda: (
            lambda n: (n, n))(read_table(spark, d, "documents").count()))
        counts = [n]
        keep = None
        for name in self.gates:
            if n is None:
                break

            def thunk(build=steps[name][0], keep=keep):
                df = build(keep, spark, d)
                k = df.count()
                return k, (df, k)

            out = r.call("operators", name, thunk)
            keep, n = out if out is not None else (None, None)
            counts.append(n)
        if r.verify and None not in counts:
            t0 = time.perf_counter()
            want = funnel_oracle_counts(r.oracle, d, self.gates)
            r.verify_s += time.perf_counter() - t0
            if counts != want:
                r._fail("funnel", f"gate counts {counts} != oracle {want}")


class MedallionEtl(Workload):
    name = "medallion_etl"
    warmup_passes = 2
    raw_rows = 60_000

    def make_inputs(self, dst, seed):
        raw = os.path.join(dst, "raw")
        size = gen.make_raw_cnae(raw, seed, self.raw_rows)
        return {"dir": dst, "raw": raw, "raw_bytes": size,
                "rows": {"raw": self.raw_rows}}

    def input_rows(self, inp):
        return self.raw_rows

    def run_pass(self, r, inp, pass_dir):
        from pyspark.sql import functions as F

        from dados_publicos_etl_spark import io as eio
        from dados_publicos_etl_spark import schemas
        from dados_publicos_etl_spark.audit import audit_layer
        from dados_publicos_etl_spark.operators.clean import clean_cnae
        from dados_publicos_etl_spark.pipeline import Pipeline, Stage

        spark, raw = r.spark, inp["raw"]
        trusted = os.path.join(pass_dir, "trusted")
        refined = os.path.join(pass_dir, "refined")
        audit = os.path.join(pass_dir, "audit")
        table = "cnae_wh"

        def lazy(obj):
            return 0, obj

        raw_df = r.call("io", "read_csv", lambda: lazy(eio.read_csv(
            spark, raw, schema=schemas.CNAE_RAW, sep=";")))
        cleaned = r.call("operators", "clean_cnae",
                         lambda: lazy(clean_cnae(raw_df)))
        r.call("io", "write_csv", lambda: lazy(eio.write_csv(
            cleaned, trusted, sep="|", single_file=True)))
        r.call("io", "add_utf8_bom",
               lambda: (lambda n: (n, n))(eio.add_utf8_bom(trusted)),
               check=lambda n: _check_bom(trusted))
        r.call("io", "csv_to_parquet", lambda: lazy(
            eio.csv_to_parquet(spark, trusted, refined, sep="|",
                               schema=schemas.CNAE_TRUSTED)))
        r.call("io", "save_warehouse_table", lambda: lazy(
            eio.save_warehouse_table(spark.read.parquet(refined), table)))
        wh = inp["wh"] = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").replace("file:", ""),
            table)
        rows = {}
        for step, path, fmt, opts in (
            ("raw", raw, "csv", {"sep": ";"}),
            ("trusted", trusted, "csv", {"sep": "|", "header": "true"}),
            ("refined", refined, "parquet", {}),
            ("warehouse", wh, "parquet", {}),
        ):
            res = r.call("audit", "audit_layer", lambda: (
                lambda a: (a.qtd_rows, a))(audit_layer(
                    spark, "dados_publicos", step, path, fmt=fmt,
                    sink_path=audit, **opts)))
            rows[step] = res.qtd_rows if res else None

        pipe = Pipeline("dados_publicos", [
            Stage("trusted", clean_cnae),
            Stage("described", lambda df: df.filter(
                F.col("DESCRICAO").isNotNull())),
            Stage("primario", lambda df: df.filter(
                F.col("SEGMENTO") == "PRIMARIO")),
        ])
        run = r.call("pipeline", "run", lambda: (
            lambda out: (tuple(s.rows for s in out[1]), out[1]))(pipe.run(
                eio.read_csv(spark, raw, schema=schemas.CNAE_RAW, sep=";"))))
        if r.verify:
            t0 = time.perf_counter()
            try:
                _reconcile(r, inp, rows, refined, audit, run)
            finally:
                r.verify_s += time.perf_counter() - t0

    def pass_stats(self, inp, pass_dir):
        stored = sum(
            _du(os.path.join(pass_dir, p))
            for p in ("trusted", "refined", "audit")
        ) + _du(inp["wh"])
        return {"stored_bytes_ratio": stored / inp["raw_bytes"]}


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _check_bom(trusted: str) -> None:
    parts = glob.glob(os.path.join(trusted, "part-*.csv"))
    if not parts:
        raise AssertionError("trusted layer holds no part file")
    for p in parts:
        with open(p, "rb") as fh:
            if fh.read(3) != codecs.BOM_UTF8:
                raise AssertionError(f"{os.path.basename(p)} lacks a BOM")


def _reconcile(r, inp, rows, refined, audit, run) -> None:
    """Layer reconciliation of one medallion pass against DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TEMP VIEW raw AS SELECT * FROM read_csv("
            f"'{inp['raw']}/*.csv', delim=';', quote='\"', escape='\"', "
            "header=false, columns={'CODIGO': 'INTEGER', "
            "'DESCRICAO': 'VARCHAR'})")
        n_raw = con.execute("SELECT count(*) FROM raw").fetchone()[0]
        want_rows = {k: n_raw for k in rows}
        if rows != want_rows:
            r._fail("reconcile", f"layer rows {rows} != raw {n_raw}")
        audit_rows = sorted(
            con.execute(f"SELECT STEP, QTD_ROWS FROM read_parquet("
                        f"'{audit}/*.parquet')").fetchall())
        if any(q != n_raw for _s, q in audit_rows) or len(audit_rows) != 4:
            r._fail("reconcile", f"audit QTD_ROWS {audit_rows} != {n_raw}")
        diff = con.execute(
            "WITH want AS (SELECT CODIGO, NULLIF(trim(DESCRICAO), '') "
            "AS DESCRICAO, CASE WHEN CODIGO % 2 = 1 THEN 'PRIMARIO' "
            "ELSE 'SECUNDARIO' END AS SEGMENTO FROM raw), got AS ("
            f"SELECT * FROM read_parquet('{refined}/*.parquet')) "
            "SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL "
            "SELECT * FROM got)) + (SELECT count(*) FROM (SELECT * FROM "
            "got EXCEPT ALL SELECT * FROM want))").fetchone()[0]
        if diff:
            r._fail("reconcile", f"refined differs from DuckDB cleaning "
                                 f"of raw in {diff} rows")
        if run is not None:
            want = con.execute(
                "SELECT count(*), count(*) FILTER (WHERE NULLIF(trim("
                "DESCRICAO), '') IS NOT NULL), count(*) FILTER (WHERE "
                "NULLIF(trim(DESCRICAO), '') IS NOT NULL AND CODIGO % 2 = 1)"
                " FROM raw").fetchone()
            got = tuple(s.rows for s in run)
            if got != tuple(want):
                r._fail("reconcile", f"Pipeline.run stage rows {got} != "
                                     f"DuckDB {tuple(want)}")
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (StarSql, StreamMicrobatch, LlmCuration,
                                  MedallionEtl)}
