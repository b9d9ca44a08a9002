"""The three things the benchmark times: cold graph builds, the query
server's closed loop, and the streaming ingest drains.

Each function takes the live `Session` and, when traced, a `Tracer`
whose spans wrap the calls into the program's modules.
"""

from __future__ import annotations

import http.client
import json
import os
import time
from dataclasses import fields

import numpy as np

from joern_spark import console
from joern_spark.operators import assemble, canonicalize, link, materialize, rebind
from joern_spark.operators.extract import extract_mentions, extract_triples_raw
from joern_spark.pipeline import GraphResult, run_pipeline
from joern_spark.server import DEFAULT_LIMIT, QueryServer
from joern_spark.session import get_spark
from joern_spark.sources.transcripts import read_entities, read_transcripts
from joern_spark.streaming import ingest as I
from joern_spark.workspace import Workspace

from corpus import dir_bytes, land_delta

OUTPUTS = [f.name for f in fields(GraphResult)]


class Session:
    """Owns the SparkSession. `restart` starts a fresh Spark application
    inside the same JVM, so no per-application memo can hit."""

    def __init__(self, cores: int, work: str) -> None:
        self.cores = cores
        self.work = work
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self._closed = False

    def _conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if traced else "false",
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def start(self, traced: bool):
        self.spark = get_spark(cores=self.cores, extra_conf=self._conf(traced))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, traced: bool):
        self.spark.stop()
        return self.start(traced)

    def close(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        if self._closed:
            return
        self._closed = True
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()


# --- build ----------------------------------------------------------------------

def full_build(spark, sf: float) -> GraphResult:
    """S0–S5 over the corpus with every GraphResult output written to
    the `noop` sink (the canonical-map solve runs eagerly inside
    run_pipeline, so it is inside the timed call too)."""
    g = run_pipeline(spark, sf)
    for name in OUTPUTS:
        getattr(g, name).write.format("noop").mode("overwrite").save()
    return g


def timed_builds(sess: Session, sf: float, seconds: float, min_builds: int) -> list[float]:
    """Cold builds, each in a fresh Spark application, until `seconds`
    of build time have passed and at least `min_builds` ran."""
    walls: list[float] = []
    while sum(walls) < seconds or len(walls) < min_builds:
        spark = sess.restart(traced=False)
        t0 = time.perf_counter()
        full_build(spark, sf)
        walls.append(time.perf_counter() - t0)
    return walls


def graph_counts(g: GraphResult) -> tuple[dict, list]:
    """Row counts of the checked layers and the triples_final rows."""
    counts = {
        name: getattr(g, name).count()
        for name in ("turns", "conversations", "mentions", "triples_raw",
                     "linked", "canonical_map", "edges")
    }
    cols = ["subj", "pred", "obj", "n_support", "first_seen"]
    rows = [tuple(r) for r in g.triples_final.select(*cols).collect()]
    return counts, rows


def layer_pass(spark, sf: float, tracer) -> dict[str, int]:
    """S0–S5 one layer at a time, each fed a materialized copy of its
    input, so each span holds only its own layer's work. Returns the
    rows out of every layer."""
    rows: dict[str, int] = {}

    def mat(df, layer):
        out = df.localCheckpoint(eager=True)
        rows[layer] = rows.get(layer, 0) + out.count()
        return out

    with tracer.span("sources.read"):
        tx = read_transcripts(spark, sf).localCheckpoint(eager=True)
        ents = read_entities(spark).localCheckpoint(eager=True)
    rows["sources.read"] = tx.count()
    with tracer.span("assemble"):
        for fn in (assemble.turn_nodes, assemble.conversation_nodes,
                   assemble.next_turn_edges, assemble.contains_edges):
            mat(fn(tx), "assemble")
    with tracer.span("extract"):
        mentions = mat(extract_mentions(tx), "extract")
        triples_raw = mat(extract_triples_raw(tx), "extract")
    with tracer.span("link"):
        mat(link.link_mentions(mentions, ents), "link")
        mat(link.all_entities(mentions, ents), "link")
    with tracer.span("canonicalize.pairs"):
        pairs = mat(canonicalize.same_as_pairs(tx), "canonicalize.pairs")
    with tracer.span("canonicalize.solve"):
        cmap = mat(canonicalize.connected_components(pairs), "canonicalize.solve")
    with tracer.span("rebind"):
        dyn = mat(rebind.dbcur_triples(tx), "rebind")
    with tracer.span("canonicalize.rewrite"):
        triples = mat(
            canonicalize.canonicalize_triples(triples_raw, cmap).unionByName(
                canonicalize.canonicalize_triples(dyn, cmap)
            ),
            "canonicalize.rewrite",
        )
    with tracer.span("materialize.dedup"):
        mat(materialize.dedup_triples(triples), "materialize.dedup")
    return rows


# --- serve ----------------------------------------------------------------------

STARTERS = ["conversations", "calls_of_tool", "mentions_of_kind",
            "entities_of_conversation", "facts_about", "comentions_of"]
ANALYTICS = ["/heavy_hitters", "/pmi", "/timeline", "/skew", "/tool_seqs"]
# starter -> (parameter name, pool of corpus values it is drawn from)
STARTER_PARAMS = {
    "calls_of_tool": ("tool", "tool"),
    "mentions_of_kind": ("kind", "kind"),
    "entities_of_conversation": ("conv_id", "conv_id"),
    "facts_about": ("key", "fact_key"),
    "comentions_of": ("key", "entity_key"),
}
TOP_K = 20


def request_types() -> list[str]:
    return STARTERS + ANALYTICS


class Mix:
    """Seeded request generator. Parameter values are drawn from values
    present in the corpus, weighted by how often they occur, so hub
    keys dominate as they do in the data."""

    def __init__(self, seed: int, pools: dict[str, tuple[list, np.ndarray]]):
        self.rng = np.random.default_rng(seed)
        self.pools = pools

    def _draw(self, pool: str):
        values, weights = self.pools[pool]
        return values[int(self.rng.choice(len(values), p=weights))]

    def request(self, kind: str) -> tuple[str, dict]:
        if kind in ANALYTICS:
            return kind, ({} if kind in ("/timeline", "/tool_seqs") else {"k": TOP_K})
        body = {"starter": kind}
        if kind in STARTER_PARAMS:
            name, pool = STARTER_PARAMS[kind]
            body["params"] = {name: self._draw(pool)}
        return "/query", body

    def round(self) -> list[tuple[str, dict]]:
        """Every request type once, in a seeded order."""
        kinds = request_types()
        return [self.request(kinds[i]) for i in self.rng.permutation(len(kinds))]


def param_pools(ora, sf: float) -> dict:
    """Values and occurrence weights for every starter parameter."""
    from joern_spark import oracle as O

    t = O.t_src(sf)
    queries = {
        "tool": f"SELECT tool, count(*) FROM {t} WHERE role = 'assistant' AND tool IS NOT NULL GROUP BY 1",
        "kind": f"SELECT kind, count(*) FROM ({O.mentions_sql(sf)}) m GROUP BY 1",
        "conv_id": f"SELECT conv_id, count(*) FROM {t} GROUP BY 1",
        "fact_key": (
            f"WITH f AS ({O.triples_final_sql(sf)}) "
            "SELECT v, count(*) FROM (SELECT subj AS v FROM f UNION ALL SELECT obj FROM f) GROUP BY 1"
        ),
        "entity_key": f"SELECT entity_key, count(*) FROM ({O.linked_mentions_sql(sf)}) l GROUP BY 1",
    }
    pools = {}
    for name, sql in queries.items():
        rows = sorted(ora.con.execute(sql).fetchall())
        w = np.array([r[1] for r in rows], dtype=float)
        pools[name] = ([r[0] for r in rows], w / w.sum())
    return pools


def http_call(port: int, path: str, body: dict) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def direct_call(ws: Workspace, path: str, body: dict) -> int:
    """The same request as a direct console call; returns rows fetched."""
    if path == "/query":
        df = ws.sql(body["starter"], **body.get("params", {}))
    else:
        fn = getattr(console, path.strip("/"))
        df = fn(ws.cpg, k=body["k"]) if "k" in body else fn(ws.cpg)
    return len(df.limit(DEFAULT_LIMIT).collect())


def request_name(path: str, body: dict) -> str:
    return body["starter"] if path == "/query" else path.strip("/")


class Server:
    """A Workspace with one imported corpus behind a QueryServer."""

    def __init__(self, spark, sf: float):
        self.ws = Workspace(spark)
        self.ws.import_code(sf, "bench")
        self.server = QueryServer(self.ws).start()
        self.port = self.server.port

    def close(self) -> None:
        self.server.shutdown()


def closed_loop(srv: Server, mix: Mix, seconds: float, log: list) -> list[float]:
    """Whole rounds of requests, one at a time on one client, until
    `seconds` have passed; each (path, body, status, response, latency)
    goes to `log` for the checks. Returns per-request latencies."""
    lat: list[float] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        for path, body in mix.round():
            t0 = time.perf_counter()
            status, resp = http_call(srv.port, path, body)
            lat.append(time.perf_counter() - t0)
            log.append((path, body, status, resp, lat[-1]))
    return lat


# --- ingest ---------------------------------------------------------------------

FOLDS = [
    ("raw", I.run_increment),
    ("alias", I.run_alias_increment),
    ("cm", I.run_cm_increment),
    ("burst", I.run_burst_increment),
    ("walk", I.run_walk_increment),
]


class Ingest:
    """Landing directory plus one output/state and checkpoint directory
    per fold. The landing directory is the oracle's corpus path for
    `sf`, so the DuckDB oracle reads exactly the landed files."""

    def __init__(self, root: str, landing: str):
        self.root = root
        self.landing = landing
        self.staging = os.path.join(root, "staging")
        os.makedirs(landing, exist_ok=True)
        self.turns = 0

    def state(self, fold: str) -> str:
        return os.path.join(self.root, "state", fold)

    def drain(self, spark, tracer, idx: int, lo: int, n_convs: int, stats: dict) -> float:
        """Land one delta and drain it through every fold; returns the
        summed drain wall time."""
        self.turns += land_delta(self.landing, self.staging, lo, n_convs, idx)
        total = 0.0
        for fold, fn in FOLDS:
            before = dir_bytes(self.state(fold))
            with tracer.span(f"ingest.{fold}") as sp:
                fn(spark, self.landing, self.state(fold),
                   os.path.join(self.root, "ckpt", fold))
            total += sp["wall_s"]
            stats.setdefault(fold, []).append(
                (sp["wall_s"], dir_bytes(self.state(fold)) - before)
            )
        return total

    def snapshots_live(self, fold: str) -> int:
        d = self.state(fold)
        if fold == "raw":
            return sum(1 for n in os.listdir(d) if n.endswith(".parquet"))
        return sum(1 for n in os.listdir(d) if os.path.isdir(os.path.join(d, n)))

    def state_bytes(self) -> int:
        return dir_bytes(os.path.join(self.root, "state"))

    def rows_out(self, spark) -> dict[str, int]:
        return {
            "raw": I.streamed_triples(spark, self.state("raw")).count(),
            "alias": I.read_canonical_map(spark, self.state("alias")).count(),
            "cm": I.read_cm_sketch(spark, self.state("cm"))[0].count(),
            "burst": I.read_burst_counts(spark, self.state("burst"))[0].count(),
            "walk": I.read_walk(spark, self.state("walk"))[0].count(),
        }

