"""Workloads: what one benchmark run does and which metrics it
reports. Imported by run.py after the program's environment is set."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

import duckdb

from joern_spark import generator as G
from joern_spark import oracle as O
from joern_spark.server import DEFAULT_LIMIT

import corpus
import oracle_check as OC
import phases as P
from spans import Tracer, attribute, merge, read_event_logs

# Corpus sizes: turns for the build and serve corpora, whole
# conversations per ingest delta.
SIZES = {
    "build": {"build_turns": 45_000, "serve_turns": 6_000, "delta_convs": 40},
    # serve: a round of the mix takes ~8.5 s here, so --seconds 15 always
    # times two whole rounds
    "serve": {"build_turns": 14_000, "serve_turns": 14_000, "delta_convs": 40},
}
# The generator and the oracle locate a corpus by its scale-factor label,
# so each corpus role gets a fixed label under the run's data root.
SF_BUILD, SF_SERVE, SF_INGEST = 0.0001, 0.0002, 0.0003
SALT_BUILD, SALT_SERVE, SALT_INGEST = 1, 2, 3
MIN_BUILDS = 2
TIMED_DELTAS = 2
BUILD_LAYERS = {
    # span name -> time metric name
    "assemble": "assemble.s",
    "extract": "extract.s",
    "link": "link.s",
    "rebind": "rebind.s",
    "canonicalize.pairs": "canonicalize.pairs_s",
    "canonicalize.solve": "canonicalize.solve_s",
    "canonicalize.rewrite": "canonicalize.rewrite_s",
    "materialize.dedup": "materialize.dedup_s",
}


def process_age_s() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def json_line(result: dict) -> str:
    return json.dumps(result, separators=(",", ":"))


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "joern_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith((".py", ".json", ".flow")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(root, ".git", ref[5:])
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip()
    return ref


def context_record(args, cores: int, run_dir: str, corpora: dict) -> dict:
    import pyspark

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": platform.node(),
        "platform": platform.platform(),
        "cores": cores,
        "mem_total_gib": round(mem_kib / 2**20, 1),
        "heap": os.environ["SPARK_DRIVER_MEM"],
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": next((ln for ln in java.stderr.splitlines() if "version" in ln), "?"),
        "commit": _commit(root),
        "source_sha256": _source_digest(root),
        "corpora": corpora,
    }
    with open(os.path.join(run_dir, "context.json"), "w") as f:
        json.dump(rec, f, indent=1)
    return rec


def _write_corpus(seed: int, sf: float, salt: int, turns: int, files: int) -> dict:
    stats = corpus.write_corpus(
        G.transcripts_path(sf), corpus.window_start(seed, salt), turns, files
    )
    G.ensure_entities()
    return stats


def _build_corpus(args, cfg, cores) -> dict:
    # 4 files per core: with one per core, where the mega-conversations
    # fell decided the slowest scan task, and build time with the seed
    return _write_corpus(args.seed, SF_BUILD, SALT_BUILD, cfg["build_turns"], 4 * cores)


def _serve_corpus(args, cfg, cores) -> dict:
    return _write_corpus(args.seed, SF_SERVE, SALT_SERVE, cfg["serve_turns"], cores)


def check_serve(ora, log) -> tuple[int, list[str]]:
    """(failed requests, mismatch descriptions) over every logged response."""
    failed, bad, cache = 0, [], {}
    for path, body, status, resp, *_ in log:
        if status != 200:
            failed += 1
            bad.append(f"{path} {body}: HTTP {status} {resp.get('error')}")
            continue
        key = json.dumps([path, body], sort_keys=True)
        if key not in cache:
            try:
                if path == "/query":
                    sql, names = OC.starter_sql(SF_SERVE, body["starter"])
                    params = [body["params"][n] for n in names]
                    exact = False
                else:
                    sql, exact = OC.analytic_sql(SF_SERVE, path, body.get("k", P.TOP_K))
                    params = []
                cols, rows = ora.rows(sql, resp["columns"], params)
                cache[key] = (cols, rows, exact)
            except (ValueError, KeyError, duckdb.Error) as e:
                cache[key] = e
        want = cache[key]
        err = (
            f"oracle: {want}" if isinstance(want, Exception)
            else OC.check_response(resp, want[0], want[1], DEFAULT_LIMIT, want[2])
        )
        if err:
            bad.append(f"{path} {body}: {err}")
    return failed, bad


def _progress(msg: str) -> None:
    print(f"[{process_age_s():7.1f}s] {msg}", file=sys.stderr, flush=True)


def _report_bad(bad: list[str]) -> None:
    for line in bad[:20]:
        print(f"check failed: {line}", file=sys.stderr)


# --- untraced workloads ------------------------------------------------------------

def run_build(args, cfg, sess, cores, setup_s, run_dir) -> dict:
    stats = _build_corpus(args, cfg, cores)
    print("context " + json.dumps(context_record(args, cores, run_dir, {"build": stats})))
    g = P.full_build(sess.spark, SF_BUILD)  # untimed: JIT warm-up
    counts, final_rows = P.graph_counts(g)
    walls = P.timed_builds(sess, SF_BUILD, args.seconds, MIN_BUILDS)
    _progress(f"builds {[round(w, 3) for w in walls]}")
    sess.close()
    ora = OC.Oracle(cores)
    bad = OC.check_build(counts, OC.digest(final_rows), ora, SF_BUILD)
    ora.close()
    _report_bad(bad)
    return {
        "correct": not bad,
        "attempted": len(walls),
        "failed": 0,
        "metrics": {
            "setup_s": _metric(setup_s, "s"),
            "throughput_per_s": _metric(stats["turns"] / statistics.median(walls), "1/s"),
        },
    }


def run_serve(args, cfg, sess, cores, setup_s, run_dir) -> dict:
    stats = _serve_corpus(args, cfg, cores)
    print("context " + json.dumps(context_record(args, cores, run_dir, {"serve": stats})))
    ora = OC.Oracle(cores)
    mix = P.Mix(args.seed, P.param_pools(ora, SF_SERVE))
    srv = P.Server(sess.spark, SF_SERVE)
    log: list = []
    for path, body in mix.round():  # untimed: every request type once
        log.append((path, body, *P.http_call(srv.port, path, body)))
    lat = P.closed_loop(srv, mix, args.seconds, log)
    _progress(f"{len(lat)} requests, {sum(lat):.2f} s")
    with open(os.path.join(run_dir, "requests.json"), "w") as f:
        json.dump([[P.request_name(p, b), st, r[-1]] for p, b, st, *r in log[-len(lat):]], f)
    srv.close()
    sess.close()
    failed, bad = check_serve(ora, log)
    ora.close()
    _report_bad(bad)
    return {
        "correct": not bad,
        "attempted": len(log),
        "failed": failed,
        "metrics": {
            "setup_s": _metric(setup_s, "s"),
            "throughput_per_s": _metric(len(lat) / sum(lat), "1/s"),
        },
    }


# --- traced pass ---------------------------------------------------------------------

def run_traced(args, cfg, sess, cores, get_spark_s, run_dir) -> dict:
    """Every layer once, at the workload's sizes: ABBA cold builds
    (A untraced, B traced), the build one layer at a time, the server's
    request types as direct and HTTP calls, and the ingest folds."""
    tracer = Tracer()
    b_stats = _build_corpus(args, cfg, cores)
    s_stats = _serve_corpus(args, cfg, cores)
    print("context " + json.dumps(context_record(
        args, cores, run_dir, {"build": b_stats, "serve": s_stats})))

    _progress("corpora written")
    P.full_build(sess.spark, SF_BUILD)  # untimed: JIT warm-up
    _progress("warm-up build done")
    walls = {"A": [], "B": []}
    for mode in "ABBA":
        spark = sess.restart(traced=mode == "B")
        tracer.spark = spark if mode == "B" else None
        with tracer.span("pipeline.build" if mode == "B" else "untraced.build") as sp:
            P.full_build(spark, SF_BUILD)
        walls[mode].append(sp["wall_s"])
    tracer.spans = [s for s in tracer.spans if s["name"] != "untraced.build"]

    spark = sess.restart(traced=True)
    tracer.spark = spark
    _progress(f"ABBA builds done {walls}")
    layer_rows = P.layer_pass(spark, SF_BUILD, tracer)
    _progress("layer pass done")

    ora = OC.Oracle(cores)
    mix = P.Mix(args.seed, P.param_pools(ora, SF_SERVE))
    with tracer.span("workspace.open"):
        srv = P.Server(spark, SF_SERVE)
    log: list = []
    http_minus_direct = []
    for i, (path, body) in enumerate(mix.round()):
        name = P.request_name(path, body)
        order = ("direct", "http") if i % 2 == 0 else ("http", "direct")
        for how in order:
            with tracer.span(f"{'console' if how == 'direct' else 'server'}.{name}") as sp:
                if how == "direct":
                    P.direct_call(srv.ws, path, body)
                else:
                    log.append((path, body, *P.http_call(srv.port, path, body)))
        http_minus_direct.append(
            tracer.walls(f"server.{name}")[-1] - tracer.walls(f"console.{name}")[-1]
        )
    srv.close()
    _progress("serve pass done")

    ing = P.Ingest(os.path.join(run_dir, "ingest"), G.transcripts_path(SF_INGEST))
    lo, n = corpus.window_start(args.seed, SALT_INGEST), cfg["delta_convs"]
    fold_stats: dict = {}
    drains = []
    for i in range(1 + TIMED_DELTAS):
        if i == 1:  # delta 0 builds the initial state untimed
            fold_stats, timed_turns0 = {}, ing.turns
        drains.append(ing.drain(spark, tracer, i, lo + i * n, n, fold_stats))
    timed_turns = ing.turns - timed_turns0
    drains = drains[1:]
    fold_rows = ing.rows_out(spark)
    streamed = [tuple(r) for r in P.I.streamed_triples(spark, ing.state("raw")).select(
        "subj", "pred", "obj", "conv_id", "turn_idx").collect()]
    cmap = [tuple(r) for r in P.I.read_canonical_map(spark, ing.state("alias")).select(
        "entity_key", "canon").collect()]
    snapshots = {fold: ing.snapshots_live(fold) for fold, _ in P.FOLDS}
    state_bytes = ing.state_bytes()
    sess.close()
    _progress(f"ingest done, drains {drains}")

    # checks
    failed, bad = check_serve(ora, log)
    _, want = ora.rows(O.triples_raw_sql(SF_INGEST),
                       ["subj", "pred", "obj", "conv_id", "turn_idx"])
    if OC.digest(streamed) != OC.digest(want):
        bad.append("streamed triples differ from the batch oracle")
    _, want = ora.rows(O.canonical_map_sql(SF_INGEST), ["entity_key", "canon"])
    if OC.digest(cmap) != OC.digest(want):
        bad.append("streamed canonical map differs from the batch oracle")
    ora.close()
    _report_bad(bad)
    _progress("checks done")

    # per-layer metrics
    n_ent = len(G.generate_entities())
    agg = attribute(tracer.spans, read_event_logs(sess.event_dir), skip_records=n_ent)
    tracer.dump(os.path.join(run_dir, "spans.json"))
    m: dict = {}

    def put(name, value, unit):
        m[name] = _metric(value, unit)

    def spark_metrics(prefix, a, rows):
        put(f"{prefix}.rows_out", rows, "count")
        put(f"{prefix}.task_s", a.get("task_s", 0.0), "s")
        put(f"{prefix}.shuffle_write_bytes", a.get("shuffle_write_bytes", 0), "bytes")
        put(f"{prefix}.input_bytes", a.get("input_bytes", 0), "bytes")
        put(f"{prefix}.task_skew", a.get("task_skew", 1.0), "ratio")

    put("session.get_spark_s", get_spark_s, "s")
    put("sources.read_s", tracer.walls("sources.read")[0], "s")
    scanned = agg.get("pipeline.build", {}).get("input_records", 0)
    put("pipeline.source_scans", scanned / len(walls["B"]) / b_stats["turns"], "count")
    layer_sum = sum(tracer.walls("sources.read")) + sum(
        tracer.walls(span)[0] for span in BUILD_LAYERS)
    put("pipeline.layer_sum_ratio", statistics.mean(walls["B"]) / layer_sum, "ratio")
    put("trace.overhead_ratio", sum(walls["B"]) / sum(walls["A"]), "ratio")
    for span, metric in BUILD_LAYERS.items():
        put(metric, tracer.walls(span)[0], "s")
        a = agg.get(span, {})
        spark_metrics(span, a, layer_rows.get(span, 0))
        put(f"{span}.spill_bytes", a.get("spill_bytes", 0), "bytes")

    put("workspace.open_s", tracer.walls("workspace.open")[0], "s")
    names = [k.strip("/") for k in P.request_types()]
    console_aggs = []
    for name in names:
        put(f"console.{name}_s", tracer.walls(f"console.{name}")[0], "s")
        console_aggs.append(agg.get(f"console.{name}", {}))
    c_agg = merge(console_aggs)
    spark_metrics("console", c_agg, sum(len(r[3].get("rows", [])) for r in log))
    put("console.spill_bytes", c_agg["spill_bytes"], "bytes")
    put("server.overhead_s", statistics.mean(http_minus_direct), "s")
    put("serve.source_scans_per_request",
        c_agg["input_records"] / len(names) / s_stats["turns"], "count")
    put("serve.jobs_per_request", c_agg["jobs"] / len(names), "count")

    for fold, _ in P.FOLDS:
        walls_f = [w for w, _ in fold_stats[fold]]
        put(f"ingest.{fold}_s", statistics.median(walls_f), "s")
        put(f"ingest.{fold}.bytes_written_per_drain",
            statistics.mean(b for _, b in fold_stats[fold]), "bytes")
        put(f"ingest.{fold}.snapshots_live", snapshots[fold], "count")
        spark_metrics(f"ingest.{fold}", agg.get(f"ingest.{fold}", {}), fold_rows[fold])
    walk = [w for w, _ in fold_stats["walk"]]
    put("ingest.walk_growth", walk[-1] / walk[0], "ratio")
    put("ingest.turns_per_s", timed_turns / sum(drains), "1/s")
    put("ingest.drain_p50_s", statistics.median(drains), "s")
    put("ingest.state_bytes_per_turn", state_bytes / ing.turns, "bytes")
    return {
        "correct": not bad,
        "attempted": len(log) + len(BUILD_LAYERS) + 4 + len(P.FOLDS) * (1 + TIMED_DELTAS),
        "failed": failed,
        "metrics": m,
    }


def run(args, run_dir: str, cores: int) -> dict:
    cfg = SIZES[args.workload]
    sess = P.Session(cores, run_dir)
    t0 = time.perf_counter()
    sess.start(traced=bool(args.trace))
    setup_s = process_age_s()
    get_spark_s = time.perf_counter() - t0
    try:
        if args.trace:
            return run_traced(args, cfg, sess, cores, get_spark_s, run_dir)
        if args.workload == "build":
            return run_build(args, cfg, sess, cores, setup_s, run_dir)
        return run_serve(args, cfg, sess, cores, setup_s, run_dir)
    finally:
        sess.close()
