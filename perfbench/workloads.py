"""The benchmark's workloads, their output checks and the layer probes.

Every workload runs a few untimed warm-up passes, then whole passes of
a fixed amount of work inside the timed region, records one entry per
public call ("op") and returns the check to run once the timed region
has ended. The outputs of every pass, warm-up included, are checked
afterwards, outside the timed region, against a DuckDB oracle that
shares no code path with the Spark engine. Sizes, seed handling
and the reason for each workload are in README.md.
"""

import os
import shutil
import statistics
import time
import traceback

import duckdb
import numpy as np
import pyspark.sql.functions as F

from harness import DATA

SF001 = os.path.join(DATA, "sf0.01")
PART = os.path.join(SF001, "part.parquet")

# 2,000 sf0.01 parcels, not sf0.1's 20,000: with 20,000 the build side
# costs ~8 s per join, so a run fits one or two joins and their spread
# (9-14% over seeds) exceeds the bound; at 2,000 a run fits seven
SJ_POINTS = 4_000_000
SJ_LEVEL = 10
# point ids start at (seed % SJ_OFFSETS) * SJ_POINTS: the largest id,
# 3.2e9, keeps key * MULT_LON (2,654,435,761) inside int64, which
# Spark's ANSI mode and DuckDB both require (overflow above ~3.47e9)
SJ_OFFSETS = 800
# registry_mix: short registry queries, frozen here with the column
# bench.py's AGG_COL aggregates for each (None: count()), so later
# changes to the registry or to bench.py do not change the work. The
# short queries are the 155 of 233 that take under 1 s in a warm
# session on a 4-core host; the mix is every 16th of them from the 6th
# (the offset whose warm pass time, 5.2 s, is the median of the 16).
MIX = (
    ("line_dedup", None),
    ("group_corr", "corr"),
    ("ewma", None),
    ("tfidf_topk", "score_u"),
    ("zipf_fit", None),
    ("incremental_agg", "mean"),
    ("tpch_q1", None),
    ("hex_cell_assign", None),
    ("tpch_q6", None),
    ("tpch_q9", None),
)
IR_PAGES, IR_PARCELS = 5000, 500
# one warm pass's nominal wall on a 4-core host; a run makes
# max(1, round(seconds / nominal)) timed passes, so its work is fixed
NOMINAL_PASS_S = {"spatial_join": 3.0, "registry_mix": 6.5, "import_resume": 90.0}
# untimed passes before the timed ones: the first join takes 2-3x and
# the first mix pass 2x a warm one (JIT, Python workers), and how fast
# a process warms up varies from run to run
WARMUP_PASSES = {"spatial_join": 3, "registry_mix": 2, "import_resume": 0}
FLOAT_RTOL = 1e-9


class Ctx:
    """Per-run state: the session, the tracer and what the ops saw."""

    def __init__(self, spark, seed, seconds, tracer, work, workload):
        self.spark = spark
        self.seed = seed
        self.passes = max(1, round(seconds / NOMINAL_PASS_S[workload]))
        self.warmups = WARMUP_PASSES[workload]
        self.tracer = tracer
        self.work = work
        self.ops = []  # {"name", "wall_s", "timed"} (+ "rows" for the join)
        self.pass_walls = []
        self.failures = []  # (op name, reason)
        self.attempted = 0
        self.cached_rdds = []  # persisted RDDs left after each op
        self.notes = {}  # named end-to-end figures printed for humans

    def pass_kinds(self):
        """The kind of each pass, also the kind of its op spans: "warmup"
        for the untimed ones, then "op" for the timed ones."""
        return ["warmup"] * self.warmups + ["op"] * self.passes

    def timed_walls(self):
        return [op["wall_s"] for op in self.ops if op["timed"]]

    def fail(self, name, reason):
        self.failures.append((name, reason))

    def count_cached(self, span):
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.cached_rdds.append(n)
        self.tracer.note(span, cached_rdds=n)


def _catalyst(span, df):
    """QueryPlanningTracker phases of the action's QueryExecution."""
    if span is None:
        return
    phases = df._jdf.queryExecution().tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        span[f"catalyst_{k}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0


def _collect_action(ctx, agg_df):
    with ctx.tracer.span("spark.action", kind="action") as sp:
        row = agg_df.collect()[0]
        _catalyst(sp, agg_df)
    return row


def _oracle_con():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    return con


# ------------------------------------------------------------ spatial_join


def _sj_points(spark, offset):
    from cadastre_pg_spark.data import synthetic as S

    key = F.col("id").cast("long")
    return spark.range(offset, offset + SJ_POINTS).select(
        F.col("id").alias("point_id"), S.lon_col(key).alias("lon"), S.lat_col(key).alias("lat")
    )


FP_MOD = 1_000_000_007  # keeps the pair sum inside int64 in both engines


def _sj_fingerprint(df):
    """Count plus order-independent sums over the (point, parcel) pairs."""
    pt, pa = F.col("point_id"), F.col("parcel_id")
    return df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(pt), F.sum(pa), F.sum((pt * pa) % F.lit(FP_MOD))
    )


def _sj_oracle(offset):
    """Independent answer from DuckDB: the registry oracle's predicate
    (point BETWEEN the box edges) on the same point range, bucketed on
    a level-8 grid so the join is not a full cross product."""
    from cadastre_pg_spark.data import synthetic as S

    cx, cy, hw, hh = S.parcel_box_sql("p_partkey")
    lv = 8
    sql = f"""
        WITH pts AS (
            SELECT i AS point_id, {S.lon_sql('i')} AS lon, {S.lat_sql('i')} AS lat
            FROM range({offset}, {offset + SJ_POINTS}) t(i)),
        pc AS (SELECT *, {S.grid_ix_sql('lon', lv)} AS ix, {S.grid_iy_sql('lat', lv)} AS iy FROM pts),
        box AS (
            SELECT p_partkey AS parcel_id, {cx} - {hw} AS x0, {cx} + {hw} AS x1,
                   {cy} - {hh} AS y0, {cy} + {hh} AS y1
            FROM '{PART}'),
        bx AS (
            SELECT *, unnest(range({S.grid_ix_sql('x0', lv)}, {S.grid_ix_sql('x1', lv)} + 1)) AS ix
            FROM box),
        bc AS (
            SELECT *, unnest(range({S.grid_iy_sql('y0', lv)}, {S.grid_iy_sql('y1', lv)} + 1)) AS iy
            FROM bx)
        SELECT count(*), sum(point_id), sum(parcel_id), sum((point_id * parcel_id) % {FP_MOD})
        FROM pc JOIN bc USING (ix, iy)
        WHERE lon BETWEEN x0 AND x1 AND lat BETWEEN y0 AND y1
    """
    con = _oracle_con()
    try:
        return tuple(int(v) for v in con.execute(sql).fetchone())
    finally:
        con.close()


def spatial_join(ctx):
    from cadastre_pg_spark.operators.spatial_join import (
        cell_spatial_join,
        parcels_from_parts,
        release_cached,
    )

    spark, tr = ctx.spark, ctx.tracer
    offset = (ctx.seed % SJ_OFFSETS) * SJ_POINTS
    points = _sj_points(spark, offset)
    parcels = parcels_from_parts(spark.read.parquet(PART))
    results = []
    for kind in ctx.pass_kinds():
        t0 = time.perf_counter()
        ctx.attempted += 1
        with tr.span("spatial_join.op", kind=kind, op="cell_spatial_join") as sp:
            try:
                with tr.span("operators.spatial_join.cell_spatial_join", kind="build"):
                    out = cell_spatial_join(points, parcels, level=SJ_LEVEL)
                row = _collect_action(ctx, _sj_fingerprint(out))
                with tr.span("operators.spatial_join.release_cached", kind="release"):
                    release_cached(out)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                traceback.print_exc()
                ctx.fail("cell_spatial_join", repr(e)[:300])
                continue
            finally:
                wall = time.perf_counter() - t0
            ctx.count_cached(sp)
        ctx.ops.append(
            {"name": "cell_spatial_join", "wall_s": wall, "timed": kind == "op", "rows": row["n"]}
        )
        if kind == "op":
            ctx.pass_walls.append(wall)
        results.append(tuple(int(v) for v in row))
    return lambda: _sj_check(ctx, offset, results)


def _sj_check(ctx, offset, results):
    with ctx.tracer.span("check.spatial_join.duckdb", kind="check"):
        want = _sj_oracle(offset)
    for got in results:
        if got != want:
            ctx.fail("cell_spatial_join", f"fingerprint {got} != oracle {want}")
    rates = [op["rows"] / op["wall_s"] for op in ctx.ops if op["timed"]]
    if rates:
        ctx.notes["join_rows_per_s"] = (statistics.median(rates), "rows/s")


# ------------------------------------------------------------ registry_mix


def mix_order(seed):
    k = seed % len(MIX)
    return MIX[k:] + MIX[:k]


def registry_mix(ctx):
    import __spark_entry__ as E
    from cadastre_pg_spark.operators.spatial_join import release_cached

    spark, tr = ctx.spark, ctx.tracer
    qs = E.queries()
    mix = mix_order(ctx.seed)
    seen = []  # (name, agg column, n, s)
    for kind in ctx.pass_kinds():
        tp = time.perf_counter()
        for name, col in mix:
            ctx.attempted += 1
            t0 = time.perf_counter()
            with tr.span("registry_mix.op", kind=kind, op=name) as sp:
                try:
                    with tr.span("entry.queries", kind="build", query=name):
                        d = qs[name](spark, SF001)
                    if col is not None:
                        agg = d.agg(F.count(F.lit(1)).alias("n"), F.sum(col).alias("s"))
                    else:
                        agg = d.groupBy().count()
                    row = _collect_action(ctx, agg)
                    with tr.span("operators.spatial_join.release_cached", kind="release"):
                        release_cached(d)
                except Exception as e:  # noqa: BLE001 - counted as a failed op
                    traceback.print_exc()
                    ctx.fail(name, repr(e)[:300])
                    continue
                finally:
                    wall = time.perf_counter() - t0
                ctx.count_cached(sp)
            ctx.ops.append({"name": name, "wall_s": wall, "timed": kind == "op"})
            seen.append((name, col, row[0], row[1] if col is not None else None))
        if kind == "op":
            ctx.pass_walls.append(time.perf_counter() - tp)
    return lambda: _mix_check(ctx, E.oracle_sql(), seen)


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    return abs(a - b) <= FLOAT_RTOL * max(abs(a), abs(b), 1.0)


def _mix_check(ctx, oracle_sql, seen):
    from cadastre_pg_spark.oracle import run_oracle

    cache = {}
    for name, col, n, s in seen:
        sql = oracle_sql.get(name)
        if sql is None:
            ctx.fail(name, "no oracle_sql() entry")
            continue
        if name not in cache:
            with ctx.tracer.span("check.registry_mix.duckdb", kind="check", query=name):
                cache[name] = run_oracle(sql, SF001)
        pdf = cache[name]
        if n != len(pdf):
            ctx.fail(name, f"rows {n} != oracle {len(pdf)}")
        elif col is not None:
            vals = pdf[col].dropna().astype(float)
            want = float(vals.sum()) if len(vals) else None
            if not _close(s, want):
                ctx.fail(name, f"sum({col}) {s} != oracle {want}")
    walls = ctx.timed_walls()
    if walls:
        ctx.notes["mix_total_s"] = (statistics.median(ctx.pass_walls), "s")
        ctx.notes["mix_query_p50_s"] = (statistics.median(walls), "s")
        ctx.notes["mix_query_p90_s"] = (float(np.percentile(walls, 90)), "s")
        ctx.notes["mix_queries"] = (len(walls), "count")


# ----------------------------------------------------------- import_resume


def _pages(spark, offset, n):
    """The program's page generator over ids [offset, offset + n)."""
    import pandas as pd

    from cadastre_pg_spark.data.pages import PAGE_SCHEMA, make_page

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([make_page(int(i)) for i in pdf["id"].values])

    return spark.range(offset, offset + n, 1, 32).mapInPandas(gen, schema=PAGE_SCHEMA)


def _placement_fingerprint(spark, out_dir):
    row = (
        spark.read.parquet(out_dir)
        .agg(
            F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64("point_id", "parcel_id", "url"), F.lit(1 << 32))),
        )
        .collect()[0]
    )
    return int(row[0]), int(row[1] or 0)


def import_resume(ctx):
    from cadastre_pg_spark import pipeline

    spark, tr = ctx.spark, ctx.tracer
    offset = (ctx.seed % 1000) * IR_PAGES
    reports = []
    for p, kind in enumerate(ctx.pass_kinds()):
        base = os.path.join(ctx.work, f"import{p}")
        shutil.rmtree(base, ignore_errors=True)
        pages = _pages(spark, offset, IR_PAGES)
        tp = time.perf_counter()
        pass_reports = []
        for op in ("import", "resume"):
            ctx.attempted += 1
            t0 = time.perf_counter()
            with tr.span(f"import_resume.{op}", kind=kind, op=op) as sp:
                try:
                    with tr.span("pipeline.run_import", kind="eager"):
                        rep = pipeline.run_import(
                            spark, base, f"{op}-{p}", n_parcels=IR_PARCELS, pages_df=pages
                        )
                except Exception as e:  # noqa: BLE001 - counted as a failed op
                    traceback.print_exc()
                    ctx.fail(op, repr(e)[:300])
                    break
                finally:
                    wall = time.perf_counter() - t0
                ctx.count_cached(sp)
            ctx.ops.append({"name": op, "wall_s": wall, "timed": kind == "op"})
            pass_reports.append(rep)
            if op == "import":
                # untimed: the placement output the resume must leave as is
                before = _placement_fingerprint(spark, rep["out_dir"])
        else:
            if kind == "op":
                ctx.pass_walls.append(time.perf_counter() - tp)
            reports.append((pass_reports, before, _placement_fingerprint(spark, rep["out_dir"])))
    return lambda: _ir_check(ctx, reports)


def _ir_check(ctx, reports):
    for (imp, res), before, after in reports:
        if imp["extract"] != IR_PAGES:
            ctx.fail("import", f"extracted {imp['extract']} rows != {IR_PAGES} pages")
        if before[0] != imp["placement"]:
            ctx.fail("import", f"placement dir holds {before[0]} rows, report {imp['placement']}")
        if res["extract"] or res["placement"]:
            ctx.fail("resume", f"resume committed rows: {res}")
        if after != before:
            ctx.fail("resume", f"placement output changed: {before} -> {after}")
    by_op = {}
    for op in (o for o in ctx.ops if o["timed"]):
        by_op.setdefault(op["name"], []).append(op["wall_s"])
    for op in ("import", "resume"):
        if by_op.get(op):
            ctx.notes[f"{op}_s"] = (statistics.median(by_op[op]), "s")


WORKLOADS = {
    "spatial_join": spatial_join,
    "import_resume": import_resume,
    "registry_mix": registry_mix,
}


# ------------------------------------------------------------ layer probes


def _rate(n, fn, reps=3):
    """n / median wall of `reps` calls of a Spark-free kernel."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return n / statistics.median(walls)


def _sample_boxes(n):
    from cadastre_pg_spark.data import synthetic as S

    cx, cy, hw, hh = S.parcel_box_sql("p_partkey")
    con = _oracle_con()
    try:
        return con.execute(
            f"SELECT {cx} - {hw}, {cx} + {hw}, {cy} - {hh}, {cy} + {hh} "
            f"FROM '{PART}' ORDER BY p_partkey LIMIT {n}"
        ).fetchnumpy()
    finally:
        con.close()


def layer_probes(ctx):
    """Direct calls into single layers, timed on fixed inputs. They run
    after the checks in every traced run, so each layer the workloads
    share is measured on every workload."""
    from cadastre_pg_spark.data.pages import extract_text_udf, generate_pages, make_page
    from cadastre_pg_spark.kernels.cover import grid_cover
    from cadastre_pg_spark.kernels.pip import build_edge_matrix, points_in_polygons_rowwise
    from cadastre_pg_spark.kernels.textextract import extract_text_series
    from cadastre_pg_spark.lineage.checkpoints import new_run_id, run_stage

    spark, tr, out = ctx.spark, ctx.tracer, {}
    boxes = _sample_boxes(2000)
    x0, x1, y0, y1 = (np.asarray(v, dtype=np.float64) for v in boxes.values())
    rings = [
        (np.array([a, b, b, a, a]), np.array([c, c, d, d, c]), np.array([0, 5]))
        for a, b, c, d in zip(x0, x1, y0, y1)
    ]
    rng = np.random.default_rng(ctx.seed)
    n_pts = 1_000_000
    pidx = rng.integers(0, len(rings), n_pts)
    px = x0[pidx] + (x1 - x0)[pidx] * rng.uniform(-0.25, 1.25, n_pts)
    py = y0[pidx] + (y1 - y0)[pidx] * rng.uniform(-0.25, 1.25, n_pts)
    with tr.span("kernels.pip.points_in_polygons_rowwise", kind="probe"):
        X1, Y1, X2, Y2 = build_edge_matrix(rings)
        out["kernels.pip.points_per_s"] = _rate(
            n_pts, lambda: points_in_polygons_rowwise(px, py, pidx, X1, Y1, X2, Y2)
        )
    with tr.span("kernels.cover.grid_cover", kind="probe"):
        out["kernels.cover.parcels_per_s"] = _rate(
            len(rings), lambda: [grid_cover(xs, ys, o, SJ_LEVEL) for xs, ys, o in rings]
        )
    htmls = [make_page(i)["html"] for i in range(2000)]
    with tr.span("kernels.textextract.extract_text_series", kind="probe"):
        out["kernels.textextract.pages_per_s"] = _rate(
            len(htmls), lambda: extract_text_series(htmls, ["8859-15"] * len(htmls))
        )

    pages_dir = os.path.join(ctx.work, "probe_pages")
    with tr.span("data.pages.generate_pages", kind="probe") as sp:
        t0 = time.perf_counter()
        generate_pages(spark, IR_PAGES).agg(F.sum(F.length("html"))).collect()
        out["data.pages.generate_s"] = time.perf_counter() - t0
    with tr.span("data.pages.write", kind="probe-prep"):
        generate_pages(spark, IR_PAGES).write.mode("overwrite").parquet(pages_dir)
    extract = extract_text_udf("8859-15")
    with tr.span("data.pages.extract_text_udf", kind="probe"):
        t0 = time.perf_counter()
        spark.read.parquet(pages_dir).agg(F.sum(F.length(extract(F.col("html"))))).collect()
        out["data.pages.extract_s"] = time.perf_counter() - t0

    staged = spark.read.parquet(pages_dir).withColumn(
        "dep_part", F.pmod(F.xxhash64("dep"), F.lit(16)).cast("int")
    )
    base = os.path.join(ctx.work, "probe_lineage")
    committed, spans = [], []
    for key in ("lineage.run_stage_s", "lineage.run_stage_skip_s"):
        with tr.span("lineage.run_stage", kind="probe") as sp:
            t0 = time.perf_counter()
            _, m = run_stage(
                spark,
                staged,
                stage="probe",
                run_id=new_run_id(),
                partition_col="dep_part",
                base_dir=base,
                process=lambda df: df.select("url", "dep_part", F.length("html").alias("n")),
            )
            committed.append(len(m.collect()))
            out[key] = time.perf_counter() - t0
        spans.append(sp)
    out["lineage.skip_ratio"] = 1.0 - committed[1] / committed[0] if committed[0] else 0.0
    return out, spans
