"""batch_headline: the 18 headline registry queries over a seeded
sf0.1-shaped catalog, each written to the noop sink.

Every query runs cold with respect to the plan modules' DataFrame memos:
before each query they are dropped, along with Spark's cache, by the same
reset ``bench.PRE_REP`` uses. Set-up runs every query once over an sf0.01
catalog from the same seed, collecting its result, and once over the full
catalog (the JVM warm-up).
Timed passes over the full catalog follow, two at least and more while
``--seconds`` lasts: the first runs every query, the later ones only those
that took under 0.8 s in it. A query's latency is its fastest run, and the
total the sum of those. Afterwards each collected result is checked
against the query's DuckDB SQL twin (row count plus an order-insensitive
hash).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from common import check, job_group, log

#: ``bench.HEADLINE`` as of this benchmark's definition, frozen here so a
#: change to bench.py's list cannot change the workload (or the per-query
#: metric names in BENCHMARK.json) between two commits being compared.
HEADLINE = (
    "invoice_featurize",
    "invoice_featurize_ranked",
    "invoice_featurize_valid",
    "validation_cascade",
    "sliding_window_count",
    "threshold_topk",
    "pricing_summary",
    "join_fact_fact_revenue",
    "topk_per_group",
    "window_running_sum",
    "rollup_qty",
    "join_five_way_volume",
    "top_returning_customers",
    "minhash_lsh_neardups",
    "arrow_text_stats",
    "bloom_pruned_revenue",
    "quality_calibration_map",
    "dsir_importance_weights",
)

#: Scale of the timed catalog, and of the one the results are checked on.
SF = 0.1
CHECK_SF = 0.01
#: Threads running the warm-up pass.
WARM_THREADS = 4
#: Timed passes at least, however short ``--seconds`` is. A pass after the
#: first runs only the queries that took under ``SHORT_S`` in it, the 12 or
#: so that can set the median latency: one run of one of those samples the
#: host's speed for too short a time.
MIN_PASSES = 2
SHORT_S = 0.8

#: Its DuckDB twin's pair search is too slow to run every time; its output
#: is checked for shape instead (non-empty, distinct ordered id pairs).
NO_ORACLE = {"minhash_lsh_neardups"}


def digest(pdf) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a result after normalizing
    column order and dtypes."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[c] = s.astype("datetime64[us]")
        elif s.dtype == object and len(s.dropna()) and hasattr(s.dropna().iloc[0], "isoformat"):
            pdf[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
    rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return len(pdf), f"{list(pdf.columns)}:{int(rows.sum(dtype='uint64'))}"


def _check_minhash(pdf) -> bool:
    ids = [c for c in pdf.columns if pdf[c].dtype.kind == "i"][:2]
    if len(pdf) == 0 or len(ids) < 2:
        return False
    a, b = pdf[ids[0]], pdf[ids[1]]
    return bool((a != b).all()) and not pdf.duplicated(subset=ids).any()


class BatchWorkload:
    name = "batch_headline"

    def __init__(self, seed: int, work, tracer) -> None:
        self.seed, self.work, self.tracer = seed, work, tracer
        self.sf_dir = os.path.join(work.path, "catalog")
        self.check_dir = os.path.join(work.path, "catalog_check")
        self.layer: dict[str, float] = {}

    def prepare_inputs(self) -> None:
        from tables import make_tables, write_tables

        write_tables(make_tables(self.seed, SF), self.sf_dir)
        write_tables(make_tables(self.seed, CHECK_SF), self.check_dir)

    def prepare_program(self, spark) -> None:
        """Warm-up: every query once over the check catalog, its result
        collected, and once over the full catalog. Most of it is the JVM's
        one-time cost (class loading, code generation, compilation), which
        overlaps when the queries run on several threads."""
        from bench import _reset_pairs_cache
        from spark_streaming_invoice_anomaly_detection_spark.plans.registry import queries

        self.builders = queries()
        missing = [q for q in HEADLINE if q not in self.builders]
        check(not missing, f"queries missing from the registry: {missing}")
        _reset_pairs_cache()
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            checks = {q: pool.submit(self._warm, spark, q, self.check_dir, True) for q in HEADLINE}
            warm = [pool.submit(self._warm, spark, q, self.sf_dir, False) for q in HEADLINE]
        self.results = {q: f.result() for q, f in checks.items()}
        for f in warm:
            f.result()

    def _warm(self, spark, name: str, path: str, collect: bool):
        with job_group(spark, f"warm.{name}"):
            df = self.builders[name](spark, path)
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None

    def measure(self, spark, seconds: float) -> dict:
        from bench import _reset_pairs_cache

        per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}
        builds: dict[str, list[float]] = {q: [] for q in HEADLINE}
        passes = 0
        todo = HEADLINE
        t_end = time.perf_counter() + seconds
        while passes < MIN_PASSES or time.perf_counter() < t_end:
            for name in todo:
                # the query's span has its own clock readings: it also
                # covers the reset and the job group, which build and exec
                # leave out
                start = time.time()
                _reset_pairs_cache()
                with job_group(spark, f"q.{name}"):
                    t0 = time.time()
                    df = self.builders[name](spark, self.sf_dir)
                    t1 = time.time()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.time()
                self.tracer.add(f"query.{name}", start, time.time(), None, pass_=passes)
                self.tracer.add(f"query.{name}.build", t0, t1, f"query.{name}")
                self.tracer.add(f"query.{name}.exec", t1, t2, f"query.{name}")
                builds[name].append(t1 - t0)
                per_query[name].append(t2 - t0)
            passes += 1
            todo = [q for q in HEADLINE if per_query[q][0] < SHORT_S]
        self.runs = {q: len(v) for q, v in per_query.items()}
        # a query's latency is its fastest run: the host's CPU speed swings
        # by a third for seconds at a time, and runs a dozen seconds apart
        # rarely both fall in a slow spell
        fastest = {q: min(range(len(v)), key=v.__getitem__) for q, v in per_query.items()}
        lat = {q: per_query[q][i] for q, i in fastest.items()}
        for name, i in fastest.items():
            self.layer[f"q.{name}.build_s"] = builds[name][i]
            self.layer[f"q.{name}.exec_s"] = lat[name] - builds[name][i]
        return {
            "total_s": sum(lat.values()),
            "latencies": list(lat.values()),
            "attempted": len(HEADLINE),
            "failed": len(self._verify()),
        }

    def _verify(self) -> list[str]:
        """Every collected result against its DuckDB twin."""
        import duckdb

        from spark_streaming_invoice_anomaly_detection_spark.plans.registry import oracle_sql
        from tables import TABLES

        oracles = oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.check_dir}/{t}.parquet')")
        wrong = []
        for name in HEADLINE:
            got = self.results[name]
            if name in NO_ORACLE or name not in oracles:
                ok = _check_minhash(got) if name in NO_ORACLE else len(got) > 0
            else:
                ok = digest(got) == digest(con.execute(oracles[name]).fetchdf())
            if not ok:
                log(f"{name}: result differs from its SQL twin")
                wrong.append(name)
        con.close()
        return wrong

    def fold_trace(self, groups: dict, stages: list, spans: list) -> None:
        """Per-query executor numbers from the event log, and the check that
        build + exec account for each query's wall time."""
        spill = gc = jobs = 0.0
        for name in HEADLINE:
            # per run of the query; the batch.* sums cover one run of each
            g = groups.get(f"q.{name}", {})
            runs = self.runs[name]
            self.layer[f"q.{name}.cpu_s"] = g.get("cpu_s", 0.0) / runs
            self.layer[f"q.{name}.shuffle_mb"] = g.get("shuffle_mb", 0.0) / runs
            spill += g.get("spill_mb", 0.0) / runs
            gc += g.get("gc_s", 0.0) / runs
            jobs += g.get("jobs", 0) / runs
        self.layer["batch.spill_mb"] = spill
        self.layer["batch.gc_s"] = gc
        self.layer["batch.jobs"] = jobs
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        worst = 1.0
        for name in HEADLINE:
            for outer, b, e in zip(*(by_name[f"query.{name}{part}"] for part in ("", ".build", ".exec"))):
                wall = outer["end"] - outer["start"]
                parts = (b["end"] - b["start"]) + (e["end"] - e["start"])
                worst = min(worst, parts / wall)
                check(
                    parts <= wall and parts >= 0.9 * wall,
                    f"reconciliation: {name} build+exec {parts:.3f}s vs wall {wall:.3f}s",
                )
        log(f"reconciliation: build+exec covers at least {worst:.1%} of every query's wall time")
