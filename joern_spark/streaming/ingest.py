"""Incremental transcript ingestion via Structured Streaming.

The reference is batch-only (no watermarks/streaming anywhere — SURVEY.md
§1.4), but a production transcript firehose arrives continuously. The
extraction stage (S2) is per-turn stateless, so it streams unchanged:
`run_increment` reads the landing directory as a stream, runs the SAME
extract_* plans used in batch and appends to a checkpointed parquet
sink (exactly-once per epoch via the file-source offset log + sink
commit log).

The ten `run_*_increment` folds keep mergeable state instead — a
canonical map, a flow walk, sketches, dedup bands, a lexical index,
burst counts — and share two mechanisms defined here:

  * ONE DRAIN. `drain` runs a streaming DataFrame under
    Trigger.AvailableNow into a parquet append sink or a foreachBatch
    function: each invocation processes exactly the files landed since
    the checkpoint, then stops — the pattern for cron-scheduled
    incremental jobs, with the checkpoint directory as the resume
    manifest. `read_stream` is the one landing-directory reader, and
    the stateful operators in `stateful.py` drain through it too.
  * ONE SNAPSHOT STORE. A fold's state is a sequence of immutable
    snapshot directories `<prefix>-<batch id>-<nonce>[/<table>]` behind
    a pointer file (`_FOLDS` names each fold's prefix, pointer and
    tables). `_commit` writes a snapshot's tables, then repoints the
    pointer atomically (`atomic_write_text` — the Iceberg
    metadata-pointer pattern at file-system scale), then expires
    superseded snapshots (`expire_snapshots`, newest 3 kept). Readers
    follow the pointer, so they never see a partial snapshot; a crash
    before the pointer commit leaves a torn or orphaned directory that
    no reader sees and the next commit sweeps.

foreachBatch side effects are at-least-once under crash-rerun (the
offset commit is separate), so every fold's own docstring says why its
replay is harmless: either the merge is idempotent, or the fold skips a
batch id ≤ the last folded one, which the pointed-to snapshot's name
records.

Conversation-level stages (window assembly, rebind resolution,
canonicalization) need cross-turn state; they run as periodic batch
compaction over the streamed raw tables — the classic lambda-free
"stream the cheap 95%, batch the stateful 5%" split.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark import schemas as S
from joern_spark.operators.extract import extract_triples_raw
from joern_spark.plans.manifest import atomic_write_text

# The columns sessionization needs from an event landing table; extra
# columns in a real lake table are pruned by the reader schema.
EVENT_STREAM_SCHEMA = "event_id bigint, ts timestamp_ntz, user_id string"

DOC_STREAM_SCHEMA = "doc_id bigint, text string, lang string, source string"


def read_stream(spark: SparkSession, landing_dir: str, schema) -> DataFrame:
    """The landing directory as a parquet file stream under a fixed
    reader schema."""
    return spark.readStream.format("parquet").schema(schema).load(landing_dir)


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    sink: str | Callable[[DataFrame, int], None],
) -> None:
    """Run `stream` once under Trigger.AvailableNow: everything landed
    since the checkpoint, then stop. `sink` is an output directory
    (append-mode parquet file sink) or a foreachBatch function
    `(batch_df, batch_id) -> None`."""
    w = (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    else:
        w = w.format("parquet").option("path", sink).outputMode("append")
    w.start().awaitTermination()


def run_increment(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain all currently-available new transcript files through triple
    extraction into the raw-triples table, exactly once, then stop.
    Re-invoking after new files land processes only the delta (the
    file-source offset log under checkpoint_dir is the resume manifest)."""
    stream = read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA)
    drain(extract_triples_raw(stream), checkpoint_dir, out_dir)


def streamed_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    if not os.path.isdir(out_dir):
        raise FileNotFoundError(out_dir)
    return spark.read.schema(
        "subj string, pred string, obj string, conv_id string, turn_idx int"
    ).parquet(out_dir)


# --- the snapshot store -------------------------------------------------------


class _Fold(NamedTuple):
    pointer: str
    tables: tuple[str, ...] = ("",)  # "" = the snapshot dir is the table


# snapshot-name prefix → the fold's pointer file and snapshot tables
_FOLDS = {
    "cmap": _Fold("CURRENT"),
    "walk": _Fold("CURRENT_WALK", ("paths", "edges", "seeds")),
    "cm": _Fold("CURRENT_CM"),
    "hll": _Fold("CURRENT_HLL"),
    "bloom": _Fold("CURRENT_BLOOM"),
    "hist": _Fold("CURRENT_HIST"),
    "mix": _Fold("CURRENT_MIX"),
    "dedup": _Fold("CURRENT_DEDUP", ("bands", "pairs")),
    "tindex": _Fold("CURRENT_TINDEX", ("tf", "dl", "dfreq", "cf", "stats")),
    "burst": _Fold("CURRENT_BURST"),
}


def _prefix(name: str) -> str:
    return name.split("-")[0]


def _batch_id(name: str) -> int:
    # snapshot names embed the zero-padded batch id: <prefix>-<id>-<nonce>
    return int(name.split("-")[1])


def _pointer(state_dir: str, prefix: str) -> str | None:
    """The snapshot the fold's pointer names, or None before its first
    commit."""
    p = os.path.join(state_dir, _FOLDS[prefix].pointer)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read().strip()


def _tables(spark: SparkSession, state_dir: str, name: str) -> tuple:
    """The snapshot's tables, in the fold's `_FOLDS` order."""
    return tuple(
        spark.read.parquet(os.path.join(state_dir, name, t))
        for t in _FOLDS[_prefix(name)].tables
    )


def _read_table(spark: SparkSession, state_dir: str, prefix: str):
    """(committed table, last folded batch id) of a one-table fold, or
    (None, -1) before its first commit."""
    name = _pointer(state_dir, prefix)
    if name is None:
        return None, -1
    return _tables(spark, state_dir, name)[0], _batch_id(name)


def _snapshot_dirs(state_dir: str) -> list[str]:
    """Every snapshot directory, committed or torn."""
    if not os.path.isdir(state_dir):
        return []
    return [
        n
        for n in os.listdir(state_dir)
        if re.fullmatch(r"[a-z]+-\d+-[0-9a-f]+", n)
        and _prefix(n) in _FOLDS
        and os.path.isdir(os.path.join(state_dir, n))
    ]


def _snapshots(state_dir: str) -> list[str]:
    """COMMITTED snapshot directory names, oldest first (names embed the
    zero-padded batch id, so lexicographic order IS fold order within a
    fold). Only dirs whose every table carries Spark's _SUCCESS marker
    count — a crash mid-write leaves a torn dir that time travel and
    retention must not see. Two committed dirs for the same batch id
    (crash between write and pointer commit, then replay) hold identical
    content by the fold's idempotence or replay guard; the
    lexicographically last wins deterministically."""
    return sorted(
        n
        for n in _snapshot_dirs(state_dir)
        if all(
            os.path.exists(os.path.join(state_dir, n, t, "_SUCCESS"))
            for t in _FOLDS[_prefix(n)].tables
        )
    )


def expire_snapshots(state_dir: str, keep_last: int = 3) -> list[str]:
    """Retention GC, per fold: delete all but the newest `keep_last`
    committed snapshots, never the one the fold's pointer references
    (the Iceberg expire_snapshots analog). Torn snapshot dirs (no
    _SUCCESS marker — a crash mid-write) are always garbage-collected
    and never count toward keep_last. Every commit runs it with the
    default; returns the deleted directory names."""
    dirs = sorted(_snapshot_dirs(state_dir))
    committed = _snapshots(state_dir)
    doomed = []
    for prefix in sorted({_prefix(n) for n in dirs}):
        mine = [n for n in committed if _prefix(n) == prefix]
        keep = set(mine[-keep_last:] if keep_last else [])
        keep.add(_pointer(state_dir, prefix))
        doomed += [n for n in dirs if _prefix(n) == prefix and n not in keep]
    for n in doomed:
        shutil.rmtree(os.path.join(state_dir, n), ignore_errors=True)
    return doomed


def _commit(
    state_dir: str, prefix: str, batch_id: int, *tables: DataFrame
) -> None:
    """Write a new snapshot of the fold's tables, atomically repoint the
    fold at it, then expire superseded snapshots."""
    fold = _FOLDS[prefix]
    name = f"{prefix}-{batch_id:06d}-{uuid.uuid4().hex[:8]}"
    for t, df in zip(fold.tables, tables, strict=True):
        df.write.mode("overwrite").parquet(os.path.join(state_dir, name, t))
    atomic_write_text(os.path.join(state_dir, fold.pointer), name)
    expire_snapshots(state_dir)


# --- incremental entity resolution (canonical-map maintenance) ----------------


def read_canonical_map(
    spark: SparkSession, state_dir: str, as_of_batch: int | None = None
) -> DataFrame | None:
    """The current canonical-map snapshot, or None before the first fold.

    `as_of_batch` reads the LAST snapshot whose fold batch id is ≤ the
    given id — time travel over the retained snapshot history, the
    Iceberg snapshot-read analog (each fold is a commit; the pointer
    file is the metadata pointer)."""
    if as_of_batch is None:
        name = _pointer(state_dir, "cmap")
    else:
        cands = [
            n for n in _snapshots(state_dir)
            if _prefix(n) == "cmap" and _batch_id(n) <= as_of_batch
        ]
        name = cands[-1] if cands else None
    if name is None:
        return None
    return spark.read.schema("entity_key string, canon string").parquet(
        os.path.join(state_dir, name)
    )


def run_alias_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental entity resolution: drain newly-landed transcript files
    and fold their SAME_AS pairs into the persisted canonical map via
    `canonicalize.merge_canonical_map` — only components touched by the
    delta are re-solved, the historical pair set is never replayed.

    Exactly-once note: foreachBatch side effects are at-least-once under
    crash-rerun (the offset commit is separate), but the fold is
    IDEMPOTENT — merging pairs already present in the map is a no-op by
    the merge==one-shot theorem (tested) — so at-least-once delivery
    still converges to the exact batch answer."""
    from joern_spark.operators.canonicalize import (
        connected_components,
        merge_canonical_map,
        same_as_pairs,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        pairs = same_as_pairs(batch_df).localCheckpoint(eager=True)
        if pairs.isEmpty():
            return
        cur = read_canonical_map(spark, state_dir)
        merged = (
            merge_canonical_map(cur, pairs)
            if cur is not None
            else connected_components(pairs)
        )
        _commit(state_dir, "cmap", batch_id, merged)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)


# ---------------------------------------------------------------------------
# Streaming flow-walk increments: fold newly-landed conversations into a
# persisted keep='all' walk via hetero.incremental_paths — the streaming
# twin of the workspace flow cache.


def read_walk(
    spark: SparkSession, state_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame] | None":
    """(paths, edges, seeds) of the current walk snapshot, or None before
    the first fold."""
    name = _pointer(state_dir, "walk")
    return None if name is None else _tables(spark, state_dir, name)


def run_walk_increment(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_depth: int = 3,
    max_crossings: int = 1,
) -> None:
    """Incremental flow-walk maintenance over a landing stream: drain
    newly-landed transcript files, derive their heterogeneous edge delta
    (NEXT_TURN/LINKS_TO/SAME_AS — each landed file must carry WHOLE
    conversations, the queries.hetero_edges_from contract), and fold it
    into the persisted keep='all' walk with hetero.incremental_paths —
    only the seeds whose cached paths touch a delta endpoint re-walk;
    the historical path set is never replayed. A snapshot holds three
    tables: paths, edges and seeds.

    At-least-once replay is idempotent: a replayed batch's edges
    anti-join away against the accumulated edge table, leaving an empty
    delta, and incremental_paths with an empty delta is a pure cache
    filter (tested)."""
    from joern_spark.functions.hetero import (
        expand_paths_hetero,
        incremental_paths,
    )
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import link_mentions
    from joern_spark.queries import hetero_edges_from
    from joern_spark.sources.transcripts import read_entities

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        linked = link_mentions(extract_mentions(batch_df), read_entities(spark))
        delta = hetero_edges_from(batch_df, linked).dropDuplicates(
            ["src", "dst", "label"]
        ).localCheckpoint(eager=True)
        delta_seeds = (
            extract_triples_raw(batch_df)
            .where(F.col("pred") == "queried_about")
            .select(
                F.concat(
                    "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
                ).alias("id")
            )
            .dropDuplicates()
        )
        prev = read_walk(spark, state_dir)
        if prev is None:
            edges_all = delta
            seeds_all = delta_seeds
            paths = expand_paths_hetero(
                seeds_all, edges_all, max_depth=max_depth,
                max_crossings=max_crossings, keep="all",
            )
        else:
            prev_paths, prev_edges, prev_seeds = prev
            new_delta = delta.join(
                prev_edges.select("src", "dst", "label"),
                ["src", "dst", "label"],
                "left_anti",
            )
            edges_all = prev_edges.unionByName(new_delta).dropDuplicates(
                ["src", "dst", "label"]
            )
            seeds_all = prev_seeds.unionByName(delta_seeds).dropDuplicates()
            paths = incremental_paths(
                prev_paths, edges_all, new_delta, seeds_all,
                max_depth=max_depth, max_crossings=max_crossings,
            )
        _commit(state_dir, "walk", batch_id, paths, edges_all, seeds_all)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)


# ---------------------------------------------------------------------------
# Streaming Count-Min increments: sketch each newly-landed micro-batch
# independently and cell-wise sum it into a persisted cell table —
# cm_merge associativity makes the fold of per-batch sketches equal the
# one-shot sketch (proven in tests/test_sketch.py).


def read_cm_sketch(spark: SparkSession, state_dir: str):
    """The currently-committed cell table (r, bucket, c), or None before
    the first drain. Returns (DataFrame | None, last_folded_batch_id)."""
    return _read_table(spark, state_dir, "cm")


def run_cm_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental heavy-hitter maintenance: drain newly-landed
    transcript files, extract triple objects, sketch the delta
    (operators/sketch.cm_sketch) and fold it into the persisted cell
    table with cm_merge.

    Exactly-once note: foreachBatch is at-least-once under crash-rerun,
    and unlike the canonical-map fold a cell-wise SUM is NOT idempotent —
    so the fold carries the standard batch-id guard: the committed
    snapshot name embeds the last folded batch id, and a replayed batch
    id ≤ that is skipped. Crash-between-write-and-pointer
    replays rewrite the same batch's snapshot (same inputs, same cells)
    before committing the pointer, so readers converge to the exact
    batch answer either way."""
    from joern_spark.operators.sketch import cm_merge, cm_sketch

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_cm_sketch(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        items = extract_triples_raw(batch_df).select(
            F.col("obj").alias("item")
        )
        delta = cm_sketch(items).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = cm_merge(cur, delta) if cur is not None else delta
        _commit(state_dir, "cm", batch_id, merged)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)


def read_hll_registers(spark: SparkSession, state_dir: str):
    """The currently-committed HLL register table (bucket, m), or None
    before the first drain. Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "hll")


def run_hll_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental distinct-cardinality maintenance: drain newly-landed
    transcript files, register-sketch the delta's triple objects
    (operators/sketch.hll_registers) and fold into the persisted
    register table with hll_merge.

    Exactly-once note: unlike the Count-Min fold, cell-wise MAX is
    idempotent — replaying a batch under foreachBatch's at-least-once
    contract re-folds the same registers to the same table, so no
    batch-id replay guard is needed for correctness; the snapshot name
    still embeds the batch id so readers can see stream progress."""
    from joern_spark.operators.sketch import hll_merge, hll_registers

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, _ = read_hll_registers(spark, state_dir)
        items = extract_triples_raw(batch_df).select(
            F.col("obj").alias("item")
        )
        delta = hll_registers(items).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = hll_merge(cur, delta) if cur is not None else delta
        _commit(state_dir, "hll", batch_id, merged)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)


def read_bloom_bits(spark: SparkSession, state_dir: str):
    """The currently-committed Bloom bit table (bit,), or None before
    the first drain. Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "bloom")


def run_bloom_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental join-pruning-filter maintenance: drain newly-landed
    transcript files, Bloom-sketch the delta's triple objects
    (operators/sketch.bloom_bits) and fold into the persisted bit table
    with bloom_merge.

    Exactly-once note: like the HLL max-fold (and unlike Count-Min's
    sums), bitwise OR == union-distinct is idempotent — replaying a
    batch re-sets the same bits, so no batch-id replay guard is needed
    for correctness; the snapshot name still embeds the batch id so
    readers can see stream progress. The committed table is ≤ BLOOM_M
    rows regardless of how many batches folded into it, so the snapshot
    write never grows with stream history."""
    from joern_spark.operators.sketch import bloom_bits, bloom_merge

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, _ = read_bloom_bits(spark, state_dir)
        keys = extract_triples_raw(batch_df).select(
            F.col("obj").alias("key")
        )
        delta = bloom_bits(keys).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = bloom_merge(cur, delta) if cur is not None else delta
        _commit(state_dir, "bloom", batch_id, merged)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)


def read_hist_registers(spark: SparkSession, state_dir: str):
    """The currently-committed histogram table (bucket, cnt), or None
    before the first drain. Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "hist")


def run_hist_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental length-quantile maintenance: drain newly-landed
    transcript files, histogram the delta's turn token counts
    (operators/sketch.hist_registers) and fold into the persisted
    bucket table with hist_merge — quantiles of the WHOLE stream so
    far are then a constant-time read-out (sketch.hist_quantiles) over
    ≤ ~500 rows, with no replay of history.

    Exactly-once note: like Count-Min (and unlike the HLL max-fold /
    Bloom OR-fold), a cell-wise SUM is not idempotent — so the fold
    carries the standard batch-id guard: the committed snapshot name
    embeds the last folded batch id, and a replayed batch id ≤ that is
    skipped."""
    from joern_spark.functions.hashing import tokens_col
    from joern_spark.operators.sketch import hist_merge, hist_registers

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_hist_registers(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        vals = batch_df.select(
            F.size(tokens_col(F.col("text"))).cast("long").alias("v")
        )
        delta = hist_registers(vals).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = hist_merge(cur, delta) if cur is not None else delta
        _commit(state_dir, "hist", batch_id, merged)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)


def read_mix_counts(spark: SparkSession, state_dir: str):
    """The currently-committed per-source (n_docs, n_tokens) count
    table, or None before the first drain. Returns
    (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "mix")


def run_mix_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental mixture-planner maintenance: drain newly-landed
    document files, aggregate the delta's per-source (n_docs, n_tokens),
    and fold it into the persisted count table by cell-wise sum — the
    mixture weights themselves are derived on read
    (curate.mixture_weights_from_counts over the committed counts), so
    stream and batch share the exact weighting expression tree.

    Exactly-once note: sums are not idempotent, so the fold carries the
    standard batch-id guard (the committed snapshot name embeds the last
    folded batch id; a replayed batch id ≤ that is skipped) — the same
    discipline as the Count-Min and histogram folds."""
    from joern_spark.functions.hashing import tokens_col

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_mix_counts(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        delta = (
            batch_df.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(
                    F.size(tokens_col(F.col("text"))).cast("long")
                ).alias("n_tokens"),
            )
            .localCheckpoint(eager=True)
        )
        if delta.isEmpty():
            return
        if cur is not None:
            merged = (
                cur.unionByName(delta)
                .groupBy("source")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("n_tokens"),
                )
            )
        else:
            merged = delta
        _commit(state_dir, "mix", batch_id, merged)

    drain(read_stream(spark, landing_dir, DOC_STREAM_SCHEMA), checkpoint_dir, fold)


def read_dedup_state(spark: SparkSession, state_dir: str):
    """The committed (bands, pairs) tables of the incremental MinHash
    dedup, or (None, None) before the first drain."""
    name = _pointer(state_dir, "dedup")
    return (None, None) if name is None else _tables(spark, state_dir, name)


def run_dedup_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental MinHash-LSH dedup maintenance: drain newly-landed
    document files, compute the delta's band signatures, and fold them
    into the persisted band table; NEW verified duplicate pairs come
    from joining the DELTA's bands against the merged table only — a
    small delta probes |delta| band rows against the committed buckets,
    never re-pairing the corpus (old–old pairs are already committed).

    Exact-Jaccard verification re-reads text for ONLY the doc ids
    touched by new candidate pairs (one semi-join over the landing
    corpus — predicate pushdown keeps it a pruned scan), so the
    corpus-sized shingle table is never persisted as state.

    Exactly-once note: band rows are deterministic per doc and pairs
    dedup on (a, b), so both folds are idempotent under at-least-once
    replay — no batch-id guard needed (the HLL/Bloom discipline, not
    the Count-Min one)."""
    from joern_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        N_BANDS,
        N_MINHASH,
        _verify_pairs,
        minhash_signatures,
        shingles,
    )

    rows_per_band = N_MINHASH // N_BANDS

    def band_table(docs: DataFrame) -> DataFrame:
        sig = minhash_signatures(docs)
        return (
            sig.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
            .groupBy("doc_id", "band")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "sig"))),
                        lambda x: x["sig"].cast("string"),
                    ),
                    "_",
                ).alias("band_key")
            )
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        old_bands, old_pairs = read_dedup_state(spark, state_dir)
        delta_docs = batch_df.select("doc_id", "text").localCheckpoint(
            eager=True
        )
        if delta_docs.isEmpty():
            return
        delta_bands = band_table(delta_docs).localCheckpoint(eager=True)
        merged_bands = (
            old_bands.unionByName(delta_bands).dropDuplicates(
                ["doc_id", "band"]
            )
            if old_bands is not None
            else delta_bands
        )
        cand = (
            delta_bands.alias("x")
            .join(merged_bands.alias("y"), ["band", "band_key"])
            .where(F.col("x.doc_id") != F.col("y.doc_id"))
            .select(
                F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("a"),
                F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("b"),
            )
            .distinct()
        )
        if old_pairs is not None:
            cand = cand.join(
                old_pairs.select("a", "b"), ["a", "b"], "left_anti"
            )
        corpus = spark.read.schema(DOC_STREAM_SCHEMA).parquet(landing_dir)
        touched = cand.select(F.col("a").alias("doc_id")).unionByName(
            cand.select(F.col("b").alias("doc_id"))
        ).distinct()
        sh = shingles(
            corpus.join(touched, "doc_id", "left_semi").select(
                "doc_id", "text"
            )
        )
        new_pairs = _verify_pairs(sh, cand, JACCARD_THRESHOLD)
        merged_pairs = (
            old_pairs.unionByName(new_pairs).dropDuplicates(["a", "b"])
            if old_pairs is not None
            else new_pairs
        )
        _commit(state_dir, "dedup", batch_id, merged_bands, merged_pairs)

    drain(read_stream(spark, landing_dir, DOC_STREAM_SCHEMA), checkpoint_dir, fold)


def read_text_index(spark: SparkSession, state_dir: str):
    """The committed incremental lexical index in the same dict shape
    `textstats.load_text_index` returns (usable directly by
    `bm25_topk_indexed` / `qld_topk_indexed`), or None before the
    first drain."""
    name = _pointer(state_dir, "tindex")
    if name is None:
        return None
    return dict(
        zip(_FOLDS["tindex"].tables, _tables(spark, state_dir, name)),
        meta={"snapshot": name},
    )


def run_index_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental inverted-index maintenance: drain newly-landed
    document files and fold their postings into the persisted lexical
    index — tf/dl rows APPEND (documents are immutable), df/cf cells
    SUM (vocabulary-bounded merge), stats re-derive from the
    maintained (n_docs, c_tot) sums. A delta of d documents costs
    O(d·terms) plus one vocabulary-sized merge — the corpus posting
    table is never re-aggregated (at 10^12 docs a per-query index
    rebuild is the difference between serving retrieval and not).

    Exactly-once: the delta anti-joins the committed dl's doc ids, so
    an at-least-once replay folds an EMPTY delta — idempotent without
    a batch-id guard (the Bloom/HLL discipline; doc ids are the
    natural dedup key)."""
    from joern_spark.operators.textstats import _tf_table

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur = read_text_index(spark, state_dir)
        delta_docs = batch_df.select("doc_id", "text")
        if cur is not None:
            delta_docs = delta_docs.join(
                cur["dl"].select("doc_id"), "doc_id", "left_anti"
            )
        delta_docs = delta_docs.localCheckpoint(eager=True)
        if delta_docs.isEmpty():
            return
        tf_d = _tf_table(delta_docs).localCheckpoint(eager=True)
        dl_d = tf_d.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        df_d = tf_d.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        cf_d = tf_d.groupBy("tok").agg(F.sum("tf").alias("cf"))
        if cur is not None:
            tf_m = cur["tf"].unionByName(tf_d)
            dl_m = cur["dl"].unionByName(dl_d)
            df_m = (
                cur["dfreq"].unionByName(df_d)
                .groupBy("tok")
                .agg(F.sum("df").alias("df"))
            )
            cf_m = (
                cur["cf"].unionByName(cf_d)
                .groupBy("tok")
                .agg(F.sum("cf").alias("cf"))
            )
            st_old = cur["stats"].select("n_docs", "c_tot")
            st_new = dl_d.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").cast("long").alias("c_tot"),
            )
            sums = st_old.unionByName(st_new).agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("c_tot").cast("long").alias("c_tot"),
            )
        else:
            tf_m, dl_m, df_m, cf_m = tf_d, dl_d, df_d, cf_d
            sums = dl_d.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("c_tot"),
            )
        st_m = sums.select(
            "n_docs",
            (
                F.col("c_tot").cast("double") / F.col("n_docs").cast("double")
            ).alias("avgdl"),
            "c_tot",
        )
        _commit(state_dir, "tindex", batch_id, tf_m, dl_m, df_m, cf_m, st_m)

    drain(read_stream(spark, landing_dir, DOC_STREAM_SCHEMA), checkpoint_dir, fold)


def read_burst_counts(spark: SparkSession, state_dir: str):
    """The committed per-(entity, hour) mention-count table, or None.
    Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "burst")


def burst_hours_from_counts(counts: DataFrame) -> DataFrame:
    """The burst predicate over ANY per-(entity, hour) count table —
    the shared read-side tail (the mixture-planner discipline), so the
    stream-maintained table and a one-shot batch aggregate answer burst
    queries through ONE expression tree."""
    from joern_spark.operators.rank import BURST_FACTOR, BURST_MIN_MENTIONS

    mn = counts.groupBy("entity_key").agg(
        (
            F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_n")
    )
    return (
        counts.join(F.broadcast(mn), "entity_key")
        .where(
            (F.col("n") >= BURST_MIN_MENTIONS)
            & (
                F.col("n").cast("double")
                >= F.lit(BURST_FACTOR) * F.col("mean_n")
            )
        )
        .select(
            "entity_key", "hour", F.col("n").cast("long").alias("n"), "mean_n"
        )
    )


def run_burst_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental burst-detector maintenance: drain newly-landed
    transcript files, aggregate the delta's per-(entity, hour) mention
    counts, and fold them into the persisted count table by cell-wise
    sum; burst hours derive ON READ via `burst_hours_from_counts` (the
    per-entity mean must see the WHOLE history, so the maintained state
    is counts, not verdicts — a burst can appear or retract as the mean
    moves, exactly like the batch operator). Sums are not idempotent →
    the Count-Min batch-id replay guard. State is vocabulary ×
    corpus-hours cells — dimension-sized forever."""
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import keyed_mentions

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_burst_counts(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        ts = batch_df.select("conv_id", "turn_idx", "ts")
        delta = (
            keyed_mentions(extract_mentions(batch_df))
            .select("conv_id", "turn_idx", "entity_key")
            .join(ts, ["conv_id", "turn_idx"])
            .groupBy(
                "entity_key",
                F.date_trunc("hour", F.col("ts")).alias("hour"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .localCheckpoint(eager=True)
        )
        if delta.isEmpty():
            return
        merged = (
            cur.unionByName(delta)
            .groupBy("entity_key", "hour")
            .agg(F.sum("n").cast("long").alias("n"))
            if cur is not None
            else delta
        )
        _commit(state_dir, "burst", batch_id, merged)

    drain(read_stream(spark, landing_dir, S.TRANSCRIPT_SCHEMA), checkpoint_dir, fold)
