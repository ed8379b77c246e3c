"""PBF → GeoParquet conversion benchmark, end to end and per layer.

Usage, from the repository root::

    python3 convbench/run.py --workload convert_sorted --seed 1 --seconds 20 --trace 0

Every input is generated from ``--seed``: a multi-blob synthetic PBF
(``synth_pbf``) and, for traced runs, the headline query tables
(``synth_tables``). A run uses one client on ``local[nproc]``:

1. set-up: session start plus a warm-up job, three times; the median is
   ``setup_s``;
2. ``convert_pbf_to_parquet`` with the workload's options, one call after
   another until ``--seconds`` have passed (at least one). The first call in
   a fresh JVM is what a command-line user pays on every run; ``convert_s``
   is the median wall.

A traced run (``--trace 1``) reports per-layer metrics instead. Spans with
their own Spark job group wrap the public functions the conversion looks up,
rebound in this process only. It then times seeded bbox windows read with
``read_geoparquet(spark, out, bbox).count()``, isolated decode and
``build_features`` counts, and the 13 ``bench.py`` headline queries.

Every output is checked: feature counts per kind and geometry type against
the generator's ground truth, the GeoParquet footer of every part, Spark,
DuckDB and pyarrow read-back counts, each window against DuckDB over the
``bbox`` covering column, and each headline query against ``oracle_sql()``
in DuckDB. A run records its output digest under ``.bench_results/`` and
compares it with the digest the other mode (traced or untraced) recorded
for the same workload, seed and code. Any failed check makes the command
exit non-zero.

The last stdout line is the result JSON; the line before it records the
machine state. Scratch files live under ``.bench_work/`` in the current
directory and are removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: elements per side of the synthetic node grid (~1.2 elements per node)
GRID = 110
#: output part files are capped so the covered output spans several row groups
MAX_RECORDS_PER_FILE = 300
#: table scale for the headline queries (lineitem has ~6e6 * scale rows)
TABLE_SCALE = 0.01
N_WINDOWS = 40
#: untimed reads first: the first reads in a JVM pay class loading and JIT
WINDOW_WARMUP = 5
WINDOW_SIDES = (0.03, 0.08, 0.2)  # share of the data extent per side
SETUP_REPEATS = 3
DRIVER_MEM = "3g"
NPROC = len(os.sched_getaffinity(0))

WORKLOADS = {
    # default conversion (no filter, compact tags, Hilbert sort) plus the
    # covering column, so the window reads can prune
    "convert_sorted": {"sort_result": True},
    # positive tags filter with a wildcard key, exploded columns with
    # drop_empty_columns, no sort. The geometry filter multiplies the job
    # count by five; it is measured in traced runs only (see README.md)
    "convert_filtered": {"sort_result": False, "filtered": True},
}

#: headline query -> the module it exercises (plain Spark SQL -> session)
QUERY_LAYER = {
    "q01_pricing_summary": "session",
    "q05_ordered_collect": "session",
    "q07_window_rank": "session",
    "q14_way_assembly": "session",
    "q17_ngram_jaccard": "operators.dedup",
    "q18_minhash_lsh": "operators.dedup",
    "q20_ann_topk": "operators.similarity",
    "q21_text_analysis": "operators.text",
    "q23_fingerprint": "operators.text",
    "q25_sessionize": "session",
    "q44_asof_previous_event": "operators.temporal",
    "q52_segment_dedup": "operators.dedup",
    "q77_session_window": "streaming",
}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


class Checks:
    """Correctness checks, each tied to the operation whose output it checks;
    every failure is reported on stderr."""

    def __init__(self) -> None:
        self.failures: list[str] = []
        self.failed_ops: set[str] = set()

    def expect(self, ok: bool, op: str, what: str) -> None:
        if not ok:
            self.failures.append(f"{op}: {what}")
            self.failed_ops.add(op)
            print(f"CHECK FAILED: {op}: {what}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------------
# process environment: everything stays inside the working directory
# ----------------------------------------------------------------------

def prepare_env(work: Path) -> None:
    for sub in ("tmp", "spark-local", "out"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)  # spark-warehouse / derby files land here
    sys.path.insert(0, str(ROOT / "tests"))  # oracle_harness.normalize
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))


def spark_conf(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # keep every job and stage of a run visible to the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.port": "0",
    }


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def machine_state(bench) -> dict:
    return {
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "microbench_sec": bench.cpu_microbench(),
        "multicore_sec": bench.multicore_probe(NPROC),
    }


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - already gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ----------------------------------------------------------------------
# output checks
# ----------------------------------------------------------------------

_WKB_TYPES = {1: "Point", 2: "LineString", 3: "Polygon", 4: "MultiPoint",
              5: "MultiLineString", 6: "MultiPolygon", 7: "GeometryCollection"}


def output_profile(out: Path) -> dict:
    """Counts per kind/type, footers, files, row groups, bytes and an
    order-independent digest (sum of per-row hashes) of a GeoParquet
    directory, read with pyarrow."""
    import pyarrow.parquet as pq

    parts = sorted(out.glob("*.parquet"))
    counts: dict[str, int] = {}
    digest = 0
    rows = 0
    row_groups = 0
    geos = set()
    for part in parts:
        pf = pq.ParquetFile(part)
        row_groups += pf.metadata.num_row_groups
        geos.add((pf.schema_arrow.metadata or {}).get(b"geo"))
        table = pf.read()
        cols = sorted(table.column_names)
        pydict = table.to_pydict()
        for i in range(table.num_rows):
            fid = pydict["feature_id"][i]
            g = pydict["geometry"][i]
            key = f"{fid.split('/', 1)[0]}/{_WKB_TYPES.get(g[1], '?')}"
            counts[key] = counts.get(key, 0) + 1
            row = repr(tuple(_canon(pydict[c][i]) for c in cols)).encode()
            digest += int.from_bytes(hashlib.blake2b(row, digest_size=8).digest(), "big")
        rows += table.num_rows
    return {
        "rows": rows,
        "counts": dict(sorted(counts.items())),
        "files": len(parts),
        "row_groups": row_groups,
        "bytes": sum(p.stat().st_size for p in parts),
        "geos": geos,
        "digest": f"{digest % 2**64:016x}",
    }


def _canon(value):
    if isinstance(value, list) and value and isinstance(value[0], tuple):
        return sorted(value)  # map as key/value pairs: order-free
    if isinstance(value, dict):
        return sorted(value.items())
    return value


def code_version() -> str:
    """Hash of the program and benchmark sources, so digests recorded by
    another version of the code are never compared."""
    h = hashlib.sha1()
    for f in sorted([*(ROOT / "quackosm_spark").rglob("*.py"), *HERE.glob("*.py")]):
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def compare_digest(checks: Checks, results: Path, args, digest: str) -> None:
    """Record this run's output digest under ``.bench_results`` and compare
    it with the digest the other mode (traced / untraced) recorded for the
    same workload and seed: tracing must not change the output."""
    results.mkdir(exist_ok=True)
    name = f"digest-{args.workload}-{args.seed}-{code_version()}"
    mine, other = (("traced", "plain") if args.trace else ("plain", "traced"))
    (results / f"{name}-{mine}.txt").write_text(digest)
    theirs = results / f"{name}-{other}.txt"
    if theirs.exists():
        want = theirs.read_text()
        checks.expect(digest == want, "convert",
                      f"{mine} output digest {digest} != {other} {want}")


def check_output(checks: Checks, spark, out: Path, prof: dict, truth: dict) -> None:
    """Ground-truth counts, the ``geo`` footer of every part, and Spark /
    DuckDB / pyarrow read-back counts (Spark trips on stale ``.crc``
    sidecars left by the footer rewrite)."""
    import duckdb

    checks.expect(prof["counts"] == truth, "convert",
                  f"feature counts {prof['counts']} != ground truth {truth}")
    geos = prof["geos"]
    checks.expect(len(geos) == 1 and None not in geos, "convert",
                  f"{len(geos)} distinct geo footers over {prof['files']} parts")
    geo = json.loads(next(iter(geos)) or "{}")
    checks.expect(geo.get("version") == "1.1.0", "convert",
                  f"geo footer version {geo.get('version')}")
    col = geo.get("columns", {}).get("geometry", {})
    types = sorted({k.split("/", 1)[1] for k in truth})
    checks.expect(col.get("geometry_types") == types, "convert",
                  f"footer geometry_types {col.get('geometry_types')} != {types}")
    bb = duckdb.sql(
        f"SELECT min(bbox.xmin), min(bbox.ymin), max(bbox.xmax), max(bbox.ymax) "
        f"FROM '{out}/*.parquet'"
    ).fetchone()
    checks.expect(
        len(col.get("bbox", [])) == 4
        and all(abs(a - b) < 1e-9 for a, b in zip(col["bbox"], bb)),
        "convert", f"footer bbox {col.get('bbox')} != data bbox {bb}")
    n_spark = spark.read.parquet(str(out)).count()
    n_duck = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    checks.expect(n_spark == n_duck == prof["rows"], "convert",
                  f"read-back counts spark={n_spark} duckdb={n_duck} "
                  f"pyarrow={prof['rows']}")


# ----------------------------------------------------------------------
# journey steps
# ----------------------------------------------------------------------

def conversion_kwargs(name: str) -> dict:
    from synth_pbf import TAGS_FILTER

    opts = WORKLOADS[name]
    kw = {
        "ignore_cache": True,
        "sort_result": opts["sort_result"],
        "bbox_column": True,
        "max_records_per_file": MAX_RECORDS_PER_FILE,
    }
    if opts.get("filtered"):
        kw["tags_filter"] = TAGS_FILTER
    return kw


def make_windows(seed: int, extent: tuple) -> list[tuple]:
    rng = random.Random(seed * 31 + 7)
    minx, miny, maxx, maxy = extent
    w, h = maxx - minx, maxy - miny
    windows = []
    for i in range(N_WINDOWS):
        side = WINDOW_SIDES[i % len(WINDOW_SIDES)]
        x0 = minx + rng.uniform(0, 1 - side) * w
        y0 = miny + rng.uniform(0, 1 - side) * h
        windows.append((x0, y0, x0 + side * w, y0 + side * h))
    return windows


def row_group_pruning(out: Path, windows: list[tuple]) -> tuple[float, int]:
    """From the footers alone: the mean share of row groups whose ``bbox``
    column statistics meet a window, and the rows those groups hold, summed
    over the windows (the rows a pruning reader must scan)."""
    import pyarrow.parquet as pq

    groups = []  # (min xmin, min ymin, max xmax, max ymax, rows) per row group
    for part in sorted(out.glob("*.parquet")):
        md = pq.ParquetFile(part).metadata
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        idx = {n: names.index(f"bbox.{n}") for n in ("xmin", "ymin", "xmax", "ymax")}
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            st = {n: group.column(i).statistics for n, i in idx.items()}
            groups.append((st["xmin"].min, st["ymin"].min, st["xmax"].max,
                           st["ymax"].max, group.num_rows))
    hit = [[g for g in groups if g[0] <= x1 and g[2] >= x0 and g[1] <= y1 and g[3] >= y0]
           for x0, y0, x1, y1 in windows]
    return (statistics.fmean(len(h) / len(groups) for h in hit),
            sum(g[4] for h in hit for g in h))


def run_windows(checks: Checks, spark, out: Path, windows: list[tuple],
                tracer) -> tuple[list[float], list[int]]:
    """Read the windows one after another, each timed, after a few untimed
    reads; each count is checked against DuckDB over the ``bbox`` covering
    column."""
    import duckdb

    from quackosm_spark.sinks.geoparquet import read_geoparquet

    for bbox in windows[:WINDOW_WARMUP]:
        read_geoparquet(spark, out, bbox).count()
    times, counts = [], []
    for bbox in windows:
        t0 = time.perf_counter()
        with tracer.span("sinks.geoparquet.read_geoparquet"):
            n = read_geoparquet(spark, out, bbox).count()
        times.append(time.perf_counter() - t0)
        counts.append(n)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW o AS SELECT bbox FROM '{out}/*.parquet'")
    for i, (bbox, n) in enumerate(zip(windows, counts)):
        x0, y0, x1, y1 = bbox
        expect = con.sql(
            f"SELECT count(*) FROM o WHERE bbox.xmin <= {x1!r} AND bbox.xmax >= {x0!r}"
            f" AND bbox.ymin <= {y1!r} AND bbox.ymax >= {y0!r}").fetchone()[0]
        checks.expect(n == expect, f"window{i}", f"{bbox}: spark {n} != duckdb {expect}")
    return times, counts


def _rows_hash(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def oracle_round(checks: Checks, spark, tables: Path) -> None:
    """Untimed: every headline query's rows hash-match its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry
    import bench
    from oracle_harness import normalize

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    for name in bench.HEADLINE:
        df = queries[name](spark, str(tables))
        cols = sorted(df.columns)
        got = _rows_hash([tuple(normalize(r[c]) for c in cols) for r in df.collect()])
        tbl = con.sql(oracles[name]).fetch_arrow_table()
        dcols = sorted(tbl.column_names)
        want = _rows_hash([tuple(normalize(r[c]) for c in dcols)
                           for r in tbl.to_pylist()])
        checks.expect(cols == dcols and got == want, name, "differs from oracle_sql()")


def query_round(spark, tables: Path, tracer) -> dict[str, float]:
    import __spark_entry__ as entry
    import bench

    queries = entry.queries()
    times = {}
    for name in bench.HEADLINE:
        t0 = time.perf_counter()
        with tracer.span(f"{QUERY_LAYER[name]}.{name}"):
            queries[name](spark, str(tables)).count()
        times[name] = time.perf_counter() - t0
    return times


# ----------------------------------------------------------------------
# per-layer metrics
# ----------------------------------------------------------------------

def install_spans(tracer) -> None:
    import quackosm_spark.filters.tags as tags_mod
    import quackosm_spark.functions as fn_mod
    import quackosm_spark.sinks.geoparquet as gp_mod

    for attr, name in (
        ("read_osm_pbf", "sources.pbf.read_osm_pbf"),
        ("build_features", "plans.pipeline.build_features"),
        ("spatial_sort", "plans.output.spatial_sort"),
        ("explode_tags_to_columns", "plans.output.explode_tags_to_columns"),
        ("drop_empty_columns", "plans.output.drop_empty_columns"),
        ("write_geoparquet", "sinks.geoparquet.write_geoparquet"),
    ):
        tracer.wrap(fn_mod, attr, name)
    tracer.wrap(gp_mod, "collect_geo_stats", "sinks.geoparquet.collect_geo_stats")
    tracer.wrap(tags_mod, "expand_wildcard_keys", "filters.tags.expand_wildcard_keys")


def layer_metrics(rep: dict, iso: dict, prof: dict, pruning: tuple,
                  convert_overhead_s: float, get_spark_s: float,
                  query_times: dict[str, float]) -> dict[str, tuple[float, str]]:
    def r(span: str, key: str) -> float:
        return float(rep.get(span, {}).get(key, 0))

    m: dict[str, tuple[float, str]] = {
        "sources.pbf.decode_s": (iso["decode_s"], "s"),
        "sources.pbf.tasks": (iso["decode_tasks"], "count"),
        "filters.tags.expand_wildcard_keys_s":
            (r("filters.tags.expand_wildcard_keys", "wall_s"), "s"),
        "filters.tags.expand_wildcard_keys.jobs":
            (r("filters.tags.expand_wildcard_keys", "jobs"), "count"),
        "plans.pipeline.build_features_s":
            (iso["pipeline_s"] - iso["decode_s"], "s"),
        "plans.pipeline.jobs": (iso["pipeline"]["jobs"], "count"),
        "plans.pipeline.stages": (iso["pipeline"]["stages"], "count"),
        "plans.pipeline.shuffle_write_bytes":
            (iso["pipeline"]["shuffle_write_bytes"], "bytes"),
        "plans.pipeline.spill_bytes": (iso["pipeline"]["spill_bytes"], "bytes"),
        "filters.geometry.build_features_s": (iso["geometry_s"] - iso["decode_s"], "s"),
        "filters.geometry.jobs": (iso["geometry"]["jobs"], "count"),
    }
    for layer in ("spatial_sort", "drop_empty_columns"):
        span = iso["output_layers"].get(layer) or rep.get(f"plans.output.{layer}", {})
        m[f"plans.output.{layer}_s"] = (float(span.get("wall_s", 0.0)), "s")
        m[f"plans.output.{layer}.jobs"] = (float(span.get("jobs", 0)), "count")
    m.update({
        "sinks.geoparquet.collect_geo_stats_s":
            (r("sinks.geoparquet.collect_geo_stats", "wall_s"), "s"),
        "sinks.geoparquet.collect_geo_stats.jobs":
            (r("sinks.geoparquet.collect_geo_stats", "jobs"), "count"),
        "sinks.geoparquet.write_s": (r("sinks.geoparquet.write_geoparquet", "own_s"), "s"),
        "sinks.geoparquet.write.jobs":
            (r("sinks.geoparquet.write_geoparquet", "jobs"), "count"),
        "sinks.geoparquet.driver_s":
            (r("sinks.geoparquet.write_geoparquet", "driver_s"), "s"),
        "sinks.geoparquet.files": (float(prof["files"]), "count"),
        "sinks.geoparquet.row_groups": (float(prof["row_groups"]), "count"),
        "sinks.geoparquet.output_bytes": (float(prof["bytes"]), "bytes"),
        "sinks.geoparquet.read_geoparquet.row_groups_read_ratio": (pruning[0], "ratio"),
        "sinks.geoparquet.read_geoparquet.rows_returned_ratio": (pruning[1], "ratio"),
        "convert.jobs": (r("convert/tree", "jobs"), "count"),
        "convert.stages": (r("convert/tree", "stages"), "count"),
        "convert.tracing_overhead_s": (convert_overhead_s, "s"),
        "session.get_spark_s": (get_spark_s, "s"),
    })
    for name, secs in query_times.items():
        m[f"{QUERY_LAYER[name]}.{name}_s"] = (secs, "s")
    m["operators.headline.queries_total_s"] = (sum(query_times.values()), "s")
    return m


def isolated_layers(spark, checks: Checks, pbf: str, truth: dict, kw: dict, out: Path,
                    tracer) -> dict:
    """Isolated counts, each checked against the ground truth: decode,
    ``build_features`` with default options (so the numbers compare across
    workloads) and with the filter polygon; then the output layer the
    workload's conversion does not call, run over the written output."""
    from pyspark.sql import functions as F

    from quackosm_spark.plans.output import drop_empty_columns, spatial_sort
    from quackosm_spark.plans.pipeline import PbfPipelineOptions, build_features
    from quackosm_spark.sources.pbf import read_osm_pbf

    def counted(name: str, opts: PbfPipelineOptions, want: dict) -> float:
        with tracer.span(name):
            t0 = time.perf_counter()
            features = build_features(spark, read_osm_pbf(spark, pbf), opts)
            rows = features.groupBy(
                F.split("feature_id", "/")[0].alias("kind"),
                F.conv(F.hex(F.substring("geometry", 2, 1)), 16, 10).alias("t"),
            ).count().collect()
            secs = time.perf_counter() - t0
        got = {f"{r['kind']}/{_WKB_TYPES[int(r['t'])]}": r["count"] for r in rows}
        checks.expect(dict(sorted(got.items())) == want, name,
                      f"feature counts {got} != ground truth {want}")
        spark.catalog.clearCache()
        return secs

    res: dict = {"output_layers": {}}
    with tracer.span("iso.decode"):
        t0 = time.perf_counter()
        read_osm_pbf(spark, pbf).count()
        res["decode_s"] = time.perf_counter() - t0
    res["pipeline_s"] = counted("iso.pipeline", PbfPipelineOptions(), truth["nofilter"])
    res["geometry_s"] = counted(
        "iso.geometry", PbfPipelineOptions(geometry_filter=truth["geometry_filter"]),
        truth["geometry"])
    written = spark.read.parquet(str(out))
    if not kw["sort_result"]:
        with tracer.span("iso.spatial_sort"):
            spatial_sort(written).count()
    if "tags_filter" not in kw:
        with tracer.span("iso.drop_empty_columns"):
            drop_empty_columns(written).count()
        spark.catalog.clearCache()
    rep = tracer.report()
    res["decode_tasks"] = float(read_osm_pbf(spark, pbf).rdd.getNumPartitions())
    res["pipeline"] = rep["iso.pipeline"]
    res["geometry"] = rep["iso.geometry"]
    for layer in ("spatial_sort", "drop_empty_columns"):
        if f"iso.{layer}" in rep:
            res["output_layers"][layer] = rep[f"iso.{layer}"]
    return res


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------

def main() -> int:
    args = parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cwd = Path.cwd()
    work = cwd / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    prepare_env(work)
    try:
        return journey(args, work, cwd)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass


def phase(name: str, t0: float) -> float:
    now = time.perf_counter()
    print(f"# {name}: {now - t0:.2f}s", file=sys.stderr, flush=True)
    return now


def journey(args: argparse.Namespace, work: Path, cwd: Path) -> int:
    import bench
    from synth_pbf import make_pbf

    checks = Checks()
    traced = bool(args.trace)
    state = {"loadavg_before": [round(v, 2) for v in os.getloadavg()]}
    if traced:
        state["before"] = machine_state(bench)

    t = time.perf_counter()
    pbf = str(work / "input.osm.pbf")
    truth = make_pbf(pbf, args.seed, GRID)
    kw = conversion_kwargs(args.workload)
    expected = truth["tags"] if kw.get("tags_filter") else truth["nofilter"]
    t = phase("inputs", t)

    # ---- set-up: session start + warm-up job, repeated -----------------
    from quackosm_spark.session import get_spark

    conf = spark_conf(work)
    setups, get_spark_s, spark = [], 0.0, None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="convbench", extra_conf=conf)
        if i == 0:
            get_spark_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
        spark.range(0, 100_000, 1, 4).selectExpr("id % 7 AS g").groupBy("g").count().collect()
        setups.append(time.perf_counter() - t0)
    t = phase("setup", t)
    try:
        if traced:
            metrics = traced_journey(args, work, cwd, spark, checks, pbf, truth, kw,
                                     expected, get_spark_s)
            gw = getattr(spark.sparkContext._gateway, "proc", None)
            metrics["driver.peak_rss_mb"] = (
                vm_hwm_mb("self") + (vm_hwm_mb(gw.pid) if gw else 0.0), "MB")
        else:
            metrics = timed_journey(args, work, cwd, spark, checks, pbf, kw, expected)
            metrics["setup_s"] = (statistics.median(setups), "s")
    finally:
        stop_spark(spark)
    attempted = metrics.pop("_attempted")
    state["loadavg_after"] = [round(v, 2) for v in os.getloadavg()]
    if traced:
        state["after"] = machine_state(bench)
    ok = not checks.failures
    print(json.dumps({"machine": {
        "nproc": NPROC,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        **state,
        "setup_runs_s": [round(s, 4) for s in setups],
        "failures": checks.failures,
    }}))
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": len(checks.failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }), flush=True)
    return 0 if ok else 1


def convert(spark, pbf: str, out: Path, kw: dict) -> float:
    from quackosm_spark.functions import convert_pbf_to_parquet

    t0 = time.perf_counter()
    convert_pbf_to_parquet(spark, pbf, result_file_path=out, **kw)
    return time.perf_counter() - t0


def timed_journey(args, work: Path, cwd: Path, spark, checks: Checks, pbf: str,
                  kw: dict, expected: dict) -> dict:
    """Conversions one after another until ``--seconds`` have passed (at
    least one; each re-writes the same output); the output is checked."""
    t = time.perf_counter()
    out = work / "out" / "result.parquet"
    times = []
    while not times or time.perf_counter() - t < args.seconds:
        times.append(convert(spark, pbf, out, kw))
    t = phase(f"{len(times)} conversion(s)", t)
    prof = output_profile(out)
    check_output(checks, spark, out, prof, expected)
    compare_digest(checks, cwd / ".bench_results", args, prof["digest"])
    phase("output checks", t)
    return {
        "convert_s": (statistics.median(times), "s"),
        "output_bytes_ratio": (prof["bytes"] / os.path.getsize(pbf), "ratio"),
        "_attempted": len(times),
    }


def traced_journey(args, work: Path, cwd: Path, spark, checks: Checks, pbf: str,
                   truth: dict, kw: dict, expected: dict, get_spark_s: float) -> dict:
    """Traced conversion, windows over its output, isolated layers and the
    headline queries, all checked."""
    from spans import Tracer
    from synth_tables import write_tables

    t = time.perf_counter()
    tracer = Tracer(spark)
    install_spans(tracer)
    out = work / "out" / "result.parquet"
    with tracer.span("convert"):
        convert(spark, pbf, out, kw)
    convert_overhead_s = tracer.overhead_s
    tracer.unwrap_all()
    t = phase("traced convert", t)
    prof = output_profile(out)
    check_output(checks, spark, out, prof, expected)
    compare_digest(checks, cwd / ".bench_results", args, prof["digest"])

    windows = make_windows(args.seed, truth["node_extent"])
    w_times, w_counts = run_windows(checks, spark, out, windows, tracer)
    rg_ratio, rows_scanned = row_group_pruning(out, windows)
    rows_ratio = sum(w_counts) / max(1, rows_scanned)
    t = phase("traced windows", t)

    rep = tracer.report()
    top = tracer.top_level_wall("convert")
    conv_wall = rep["convert"]["wall_s"]
    checks.expect(abs(top - conv_wall) <= 0.05 * conv_wall, "convert",
                  f"top-level spans {top:.3f}s vs traced convert {conv_wall:.3f}s")
    iso = isolated_layers(spark, checks, pbf, truth, kw, out, tracer)
    t = phase("isolated layers", t)

    tables = work / "tables"
    write_tables(tables, args.seed, TABLE_SCALE)
    oracle_round(checks, spark, tables)
    q_times = query_round(spark, tables, tracer)
    t = phase("headline queries", t)

    rep = tracer.report()
    metrics = layer_metrics(rep, iso, prof, (rg_ratio, rows_ratio),
                            convert_overhead_s, get_spark_s, q_times)
    metrics["sinks.geoparquet.read_geoparquet.p50_s"] = (statistics.median(w_times), "s")
    metrics["sinks.geoparquet.read_geoparquet.p90_s"] = (
        statistics.quantiles(w_times, n=10)[8], "s")
    results = cwd / ".bench_results"
    results.mkdir(exist_ok=True)
    tracer.dump(str(results / f"spans-{args.workload}-{args.seed}.json"))
    print(json.dumps({"spans_top_level_s": top, "convert_traced_s": conv_wall}),
          file=sys.stderr)
    metrics["_attempted"] = 3 + len(windows) + len(q_times)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
