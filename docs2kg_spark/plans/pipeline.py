"""End-to-end KG construction pipeline (the distributed replacement for
the reference's sequential per-file loop, cli.py:174-215).

transcripts ─ quarantine split
  → segments         (window ordering; checkpoint)
  → extraction       (ONE Arrow UDF pass: mentions + co-occurrence
                      triples per segment, narrow; checkpoint)
  → mentions/triples (two explode projections of it; checkpoints)
  → canonical_map    (MinHash-LSH + CC fixpoint; checkpoint)
  → kg_nodes/edges   (joins through canonical_map; final tables)
  → metadata_kg      (conversation-level value nodes + HAS_* edges,
                      built alongside the chain above)
  → metrics/_lineage (per-partition counts + stage wall-times)

Resume semantics (north_rule "resumable from checkpoint"): every stage
writes a lineage marker containing the input fingerprint; a rerun skips
stages whose marker matches, so a mid-run kill converges on rerun —
content-addressed ids make outputs byte-stable across runs.

Error semantics: rows with null conv_id / turn_idx / unparseable shape
go to a quarantine table instead of killing the job — the distributed
analog of the reference's per-file exception swallowing (cli.py:208-213),
but visible instead of silent.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators.graph import conversation_metadata_kg, materialize_kg
from docs2kg_spark.operators.linking import build_canonical_map
from docs2kg_spark.operators.mentions import extract_fused, split_extraction
from docs2kg_spark.operators.segments import segment_transcripts


def input_fingerprint(transcripts: DataFrame) -> str:
    """Order-insensitive content fingerprint of the input table — one agg
    pass (xxhash64 per row, summed).  Stands in for Iceberg's snapshot id."""
    row = transcripts.agg(
        F.count("*").alias("n"),
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


INPUT_SCHEMA = {
    "conv_id": "string",
    "turn_idx": "int",
    "role": "string",
    "text": "string",
    "tool": "string",
    "ts": "timestamp",
}


def normalize_input(transcripts: DataFrame) -> DataFrame:
    """Project + cast to the contract schema (BASELINE.json::input_hint).
    Real 10^12-turn tables drift (an all-null column written by one
    producer arrives as a different parquet physical type); casting at
    the boundary means every stage downstream sees exactly one schema."""
    return transcripts.select(
        *[F.col(c).cast(t).alias(c) for c, t in INPUT_SCHEMA.items() if c in transcripts.columns]
    )


def quarantine_split(
    transcripts: DataFrame, obs: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """Normalized input → (good rows, quarantined rows with a reason).
    With ``obs``, the bad-row count is observed as ``n_bad`` on the good
    rows' first action, so a clean input costs no extra scan: callers
    write the quarantined rows only when ``obs.get["n_bad"]`` > 0."""
    normalized = normalize_input(transcripts)
    bad = F.col("conv_id").isNull() | F.col("turn_idx").isNull()
    src = normalized.observe(obs, F.sum(bad.cast("long")).alias("n_bad")) if obs else normalized
    quarantined = normalized.filter(bad).withColumn(
        "quarantine_reason", F.lit("null conv_id or turn_idx")
    )
    return src.filter(~bad), quarantined


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
) -> dict:
    """transcripts → every KG table under ``workdir`` (stage graph in the
    module doc).  Each stage is one ``run_stage`` call: with resume=True
    it is skipped when every table it writes has a marker carrying this
    input's fingerprint; otherwise it is built and its tables written,
    several tables of one stage as concurrent Spark jobs.  The metadata
    KG, the quarantine write, the ontology update and the block-stats
    marker run on driver threads alongside the critical path.

    Returns each table read back from the store, plus ``fingerprint``,
    ``store`` and ``stage_times``: table name → seconds from the start
    of its stage to its write, 0.0 when resumed (``extraction`` is
    listed only when mentions/triples had to be rebuilt)."""
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, workdir)
    # the fingerprint exists to key resume markers; with resume=False the
    # markers are write-only, so skip the extra full input scan (a rerun
    # with resume=True recomputes the real fp, mismatches, and rebuilds —
    # safe in both directions)
    fp = input_fingerprint(transcripts) if resume else "ephemeral"
    stage_times: dict[str, float] = {}
    # side jobs (quarantine / metadata / metrics / secondary table writes)
    # are independent of the critical path segments → extraction →
    # canonicalize → materialize, so they run as concurrently submitted
    # Spark jobs from driver threads (job submission is thread-safe; on a
    # cluster this is standard driver-side job parallelism, and locally it
    # fills scheduler gaps instead of adding serial barriers)
    side = ThreadPoolExecutor(max_workers=4, thread_name_prefix="docs2kg-side")
    side_futures: list = []

    def submit_side(fn, *args):
        future = side.submit(fn, *args)
        side_futures.append(future)
        return future

    def current(names: tuple[str, ...]) -> bool:
        return resume and all(store.stage_complete(n, fp) and store.exists(n) for n in names)

    def run_stage(names: str | tuple[str, ...], build):
        """Build + persist one stage unless its checkpoints are current.
        ``build`` returns one DataFrame per table name; returns the
        table(s) read back from the store."""
        single = isinstance(names, str)
        names = (names,) if single else names
        if current(names):
            stage_times.update(dict.fromkeys(names, 0.0))
        else:
            t0 = time.monotonic()
            dfs = (build(),) if single else build()

            def write(df: DataFrame, name: str) -> None:
                store.write(df, name)
                store.write_marker(name, fp)
                stage_times[name] = time.monotonic() - t0

            if single:
                write(dfs[0], names[0])
            else:
                # tables of one stage share inputs but not outputs: one
                # job each, concurrently, keeps every slot busy through
                # the other's write tail
                with ThreadPoolExecutor(max_workers=len(names)) as pool:
                    list(pool.map(write, dfs, names))
        tables = [store.read(n) for n in names]
        return tables[0] if single else tables

    # Any critical-path failure must still join the background
    # quarantine/metrics/metadata writes: otherwise those threads keep
    # writing into the workdir after the run has died, and their own
    # failures are swallowed because nothing ever awaits the futures
    # (round-1 advice item 4).  The happy path drains them explicitly
    # below (their errors propagate there); this except only runs on
    # the failure path and must not mask the original error.
    try:
        # Quarantine detection rides the segments pass as an Observation
        # (zero extra scan): the common case — a clean input — costs
        # nothing, and only when bad rows are OBSERVED does a side job
        # scan the input again to materialize them with reasons.
        q_obs = None if current(("segments",)) else Observation("quarantine_probe")
        good, quarantined = quarantine_split(transcripts, q_obs)

        if cfg.segment_bucket_turns > 0:
            from docs2kg_spark.operators.segments import segment_transcripts_bucketed

            segments = run_stage(
                "segments", lambda: segment_transcripts_bucketed(good, cfg.segment_bucket_turns)
            )
        else:
            segments = run_stage("segments", lambda: segment_transcripts(good))

        if q_obs is not None:
            # segments just materialized → the observation is bound
            if int(q_obs.get["n_bad"] or 0) > 0:
                submit_side(store.write, quarantined, "quarantine")
            else:
                quarantine_ddl = ", ".join(
                    f"{c} {t}" for c, t in INPUT_SCHEMA.items() if c in transcripts.columns
                ) + ", quarantine_reason string"
                store.write_rows([], quarantine_ddl, "quarantine")
        elif not store.exists("quarantine"):
            # segments resumed but quarantine missing (partial workdir)
            submit_side(store.write, quarantined, "quarantine")

        # metadata KG depends only on the raw turns — overlap it with the
        # whole extraction/linking critical path
        meta_future = submit_side(
            run_stage, ("metadata_nodes", "metadata_edges"), lambda: conversation_metadata_kg(good)
        )

        # fused extraction: mentions + triples in ONE Arrow pass, no shuffle
        # (the per-segment pair generation of operators/relations.py is
        # computed inside the UDF; see mentions.py::_triples_of).  The UDF
        # output is checkpointed as its own stage: exactly ONE extraction
        # pass (a .persist() can evict under memory pressure and silently
        # re-run the UDF), and a rerun that lost mentions or triples
        # resumes from it instead of re-running the UDF.
        mentions, triples = run_stage(
            ("mentions", "triples"),
            lambda: split_extraction(
                run_stage("extraction", lambda: extract_fused(segments, spark, cfg)[0])
            ),
        )

        # ontology round-trip (reference: semantic_kg/base.py:60-82): merge
        # newly discovered mention types into the persisted ontology so an
        # incremental rerun starts from them — tiny distinct agg + tiny
        # write, runs as a side job off the critical path
        from docs2kg_spark.operators.ontology_gen import persist_updated_ontology

        submit_side(lambda: persist_updated_ontology(store, mentions, cfg.ontology))

        def _canonical():
            cmap, block_stats = build_canonical_map(mentions, spark, cfg)
            # the stats collect is lineage bookkeeping, not a canonical_map
            # dependency — run it off the critical path (for the small-vocab
            # driver fast path it is a local relation, not even a job)
            submit_side(
                lambda: store.write_marker(
                    "canonical_block_stats", fp, extra=block_stats.collect()[0].asDict()
                )
            )
            return cmap

        canonical_map = run_stage("canonical_map", _canonical)

        schema = dict(cfg.layout_schema) if cfg.layout_schema is not None else None
        kg_nodes, kg_edges = run_stage(
            ("kg_nodes", "kg_edges"),
            lambda: materialize_kg(segments, mentions, triples, canonical_map, layout_schema=schema),
        )
        metadata_nodes, metadata_edges = meta_future.result()

        # drain side jobs (quarantine, ontology, block stats), then assemble
        # the combined metrics table driver-side: per-partition rows come
        # from the parquet footers of each stage table (no re-scan jobs),
        # wall times from the stage_times dict — the whole metrics table is
        # a driver-side metadata write, zero Spark jobs
        for f in side_futures:
            f.result()
        side.shutdown(wait=True)
        metric_rows: list[tuple] = [
            (-1, int(v * 1000), f"{k}__wall_ms") for k, v in stage_times.items()
        ]
        for name in (
            "segments",
            "mentions",
            "triples",
            "canonical_map",
            "kg_nodes",
            "kg_edges",
            "metadata_nodes",
            "metadata_edges",
            "quarantine",
        ):
            if store.exists(name):
                metric_rows.extend(
                    (pid, rows, name) for pid, rows in store.partition_counts(name)
                )
        store.write_rows(metric_rows, "partition_id int, rows bigint, stage string", "metrics")

        return {
            "fingerprint": fp,
            "segments": segments,
            "mentions": mentions,
            "triples": triples,
            "canonical_map": canonical_map,
            "kg_nodes": kg_nodes,
            "kg_edges": kg_edges,
            "metadata_nodes": metadata_nodes,
            "metadata_edges": metadata_edges,
            "stage_times": stage_times,
            "store": store,
        }
    except BaseException:
        for f in side_futures:
            f.exception()
        side.shutdown(wait=True)
        raise
