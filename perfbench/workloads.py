"""The workloads: what one run builds, times and checks.

batch_open_vocab
    ``run_pipeline`` into a fresh workdir over transcripts of a generated
    open vocabulary (``inputs.open_vocab_gazetteer``, 2,750 multi-token
    surfaces in near-duplicate families, above the 2048-entry
    large-vocabulary matcher route), then ``resume=True`` reruns on the
    finished workdir.  Extraction and linking over
    thousands of surfaces do most of the work.
incremental_append
    ``fixtures.transcripts_pandas`` transcripts with the default 41-entry
    gazetteer, split into equal, conversation-complete micro-batches
    that go through ``streaming.incremental.process_kg_batch`` onto a
    growing state, then ``compact_kg``.  Set-up builds the same input
    with ``run_pipeline``: that build warms the shared operators, is the
    reference the compacted KG must equal, and is the workdir of the
    timed ``resume=True`` reruns.

Inputs are written to parquet before anything is timed, so builds read a
stored table.

Both time back-to-back ``resume=True`` reruns for ``--seconds`` (at
least three).  Traced runs then add a read phase over the KG they built:
a closed loop with one client, mostly 2-hop ``graphq.k_hop`` over
``undirect(kg_edges)`` (materialized once) from sampled entity nodes and
every fifth operation a top-N ``degrees`` plus 5-iteration ``pagerank``
pass over ``kg_edges``, for ``--seconds`` and at least three k_hop and
one analytic pass.  Untraced runs leave it out to stay near one minute.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from docs2kg_spark.config import DEFAULT_GAZETTEER, PipelineConfig
from docs2kg_spark.fixtures.transcripts import transcripts_pandas
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators import graphq, linking
from docs2kg_spark.plans import pipeline
from docs2kg_spark.streaming import incremental
from perfbench import checks
from perfbench.inputs import open_vocab_gazetteer, open_vocab_transcripts

OPEN_FAMILIES = 1100  # 2,750 surfaces
OPEN_CONVS = 160
OPEN_WARM_CONVS = 12
LARGE_VOCAB = 2048  # operators.mentions switches matcher at this many entries
INC_CONVS = 200
MICRO_BATCHES = 2  # the first onto an empty state, the second onto its state
MIN_RERUNS = 3
MIN_KHOPS = 3
ORACLE_SAMPLE = 24  # conversations checked against the reference oracle
KHOP_DEPTH = 2
TOP_N = 20
PAGERANK_ITERS = 5
ANALYTIC_EVERY = 5
KG_TABLES = ("segments", "mentions", "triples", "canonical_map", "kg_nodes", "kg_edges")


@dataclass
class Run:
    """State of one benchmark run: session, scratch dirs, op accounting."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None
    attempted: int = 0
    failed: set = field(default_factory=set)
    errors: list = field(default_factory=list)
    times: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, op: str, kind: str, fn, *args, **kwargs):
        """One timed operation of ``kind``; returns its result."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as e:
            self.failed.add(op)
            self.errors.append(f"{op}: {type(e).__name__}: {e}")
            raise
        self.times.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def check(self, op: str, errors: list[str]) -> None:
        """A failed output check counts as a failed operation."""
        if errors:
            self.failed.add(op)
            self.errors.extend(f"{op}: {e}" for e in errors)

    def bench_group(self, on: bool) -> None:
        """Label the benchmark's own jobs (checks, counts) in the event log."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", "bench|-1" if on else None)

    def mark_resume(self) -> None:
        """Tag the span of the rerun just made so layers.py can tell it apart."""
        if self.tracer is not None:
            top = [s for s in self.tracer.spans if s.name == "pipeline.run_pipeline" and s.parent is None]
            top[-1].detail = "resume"


TRANSCRIPT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_pandas(pdf, path: str) -> str:
    """Transcript rows as one parquet file in ``path`` (the table dir)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=TRANSCRIPT_ARROW, preserve_index=False, safe=False)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return path


def read_table(path: str, columns: list[str] | None = None) -> list[tuple]:
    """Rows of a stored table read with pyarrow (checks only: no Spark
    job), columns in the given order or else sorted by name.  Reads every
    parquet file under ``path``, including partition directories such as
    ``_batch_id=0`` that pyarrow's dataset discovery skips."""
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    rows: list[tuple] = []
    for f in files:
        table = pq.read_table(f, columns=columns)
        rows.extend(zip(*(table.column(c).to_pylist() for c in columns or sorted(table.column_names))))
    return rows


def footer_counts(workdir: str, spark) -> dict[str, int]:
    """Row counts of the KG tables from parquet footers (no Spark job)."""
    store = TableStore(spark, workdir)
    return {t: sum(n for _, n in store.partition_counts(t)) for t in KG_TABLES}


def parquet_stats(path: str) -> tuple[int, float]:
    """(parquet files, MB) under ``path``."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files) / (1 << 20)


# --- read phase -----------------------------------------------------------------


def _khop(spark, und, node):
    seeds = spark.createDataFrame([(node,)], "node string")
    return [(r["node"], r["hops"]) for r in graphq.k_hop(und, seeds, KHOP_DEPTH).collect()]


def _analytic(edges):
    top = graphq.degrees(edges).orderBy(F.desc("degree"), "node").limit(TOP_N).collect()
    ranks = graphq.pagerank(edges, iters=PAGERANK_ITERS).orderBy(F.desc("pr"), "node").limit(TOP_N).collect()
    return [(r["node"], r["degree"]) for r in top], ranks


def read_phase(run: Run, kg_dir: str) -> dict:
    """Closed loop, one client, for ``run.seconds`` (at least MIN_KHOPS
    k_hop and one analytic pass).  Returns what the checks need."""
    spark = run.spark
    store = TableStore(spark, kg_dir)
    edge_rows = read_table(store.path("kg_edges"), ["src", "dst", "type"])
    entities = sorted({d for _, d, t in edge_rows if t == "HAS_ENTITY"})
    seeds = random.Random(f"reads:{run.seed}").sample(entities, min(64, len(entities)))

    edges = store.read("kg_edges")
    # the undirected view is built once per phase, as a graph service
    # would; every k_hop then probes it (analytic passes read kg_edges)
    und = graphq.undirect(edges).localCheckpoint()
    results = {"khop": [], "analytic": [], "edges": [(s, d) for s, d, _ in edge_rows]}
    deadline = time.perf_counter() + run.seconds
    i = 0
    while True:
        op = f"read{i}"
        if i % ANALYTIC_EVERY == 2:
            results["analytic"].append((op, run.timed(op, "analytic", _analytic, edges)))
        else:
            node = seeds[len(results["khop"]) % len(seeds)]
            results["khop"].append((op, node, run.timed(op, "khop", _khop, spark, und, node)))
        i += 1
        if time.perf_counter() >= deadline and len(results["khop"]) >= MIN_KHOPS and results["analytic"]:
            return results


def check_reads(run: Run, results: dict) -> None:
    edges = results["edges"]
    adj = checks.undirected_adjacency(edges)
    for op, node, rows in results["khop"]:
        run.check(op, checks.khop_matches(rows, adj, node, KHOP_DEPTH))
    for op, (top, ranks) in results["analytic"]:
        run.check(op, checks.top_degrees_match(top, edges, TOP_N))
        if len(ranks) != min(TOP_N, len(adj)):
            run.check(op, [f"pagerank returned {len(ranks)} top rows"])
    run.counts["khop_rows"] = [len(rows) for _, _, rows in results["khop"]]
    run.counts["khop_p50_s"] = statistics.median(run.times["khop"])
    run.counts["analytic_s"] = statistics.median(run.times["analytic"])


# --- checks shared by both workloads ------------------------------------------------


def oracle_sample(run: Run, input_path: str, triples_path: str, gazetteer, op: str) -> None:
    """Triples of a seeded sample of conversations against the oracle."""
    rows = pq.read_table(input_path).to_pylist()
    conv_ids = sorted({r["conv_id"] for r in rows})
    sample = set(random.Random(f"oracle:{run.seed}").sample(conv_ids, min(ORACLE_SAMPLE, len(conv_ids))))
    got = {
        (seg, s, p, o)
        for conv, seg, s, p, o in read_table(triples_path, ["conv_id", "seg_id", "subj", "pred", "obj"])
        if conv in sample
    }
    want = checks.oracle_triples([r for r in rows if r["conv_id"] in sample], gazetteer)
    run.check(op, checks.triple_pr(got, want, "oracle sample"))


def resume_reruns(run: Run, tr, workdir: str, cfg: PipelineConfig) -> None:
    """Timed ``resume=True`` reruns on a finished workdir, back to back
    for ``run.seconds`` and at least MIN_RERUNS; each must skip every
    stage and leave every table as it was."""
    before = footer_counts(workdir, run.spark)
    deadline = time.perf_counter() + run.seconds
    i = 0
    while i < MIN_RERUNS or time.perf_counter() < deadline:
        op = f"resume{i}"
        out = run.timed(op, "resume", pipeline.run_pipeline, run.spark, tr, workdir, cfg, resume=True)
        run.mark_resume()
        ran = sorted(k for k, v in out["stage_times"].items() if v != 0.0)
        if ran:
            run.check(op, [f"resume rerun re-ran stages {ran}"])
        after = footer_counts(workdir, run.spark)
        if after != before:
            run.check(op, [f"resume rerun changed row counts {before} -> {after}"])
        i += 1


def linking_counts(run: Run, cmap, cfg: PipelineConfig) -> None:
    """Candidate and verified pairs over the final vocabulary, recomputed
    with the linking layer's own public steps (traced runs only)."""
    nodes = cmap.select("node_id", "text", "label").localCheckpoint()
    pairs, block_stats = linking.candidate_pairs(nodes, cfg)
    pairs = pairs.localCheckpoint()
    bs = block_stats.collect()[0]
    n_verified = linking.verified_edges(pairs, cfg).count()
    run.counts.update(
        {
            "linking.candidate_pairs": pairs.count(),
            "linking.verified_edges": n_verified,
            "linking.capped_blocks": bs["n_capped_blocks"] or 0,
            "linking.max_block": bs["max_block_size"] or 0,
            "linking.nodes": nodes.count(),
            "linking.components": cmap.select("canonical_id").distinct().count(),
            "linking.cc_path": int(n_verified > cfg.cc_driver_max_edges),
        }
    )


# --- batch_open_vocab -------------------------------------------------------------


class BatchOpenVocab:
    name = "batch_open_vocab"

    def inputs(self, run: Run) -> None:
        self.vocab = open_vocab_gazetteer(run.seed, OPEN_FAMILIES)
        if len(self.vocab.gazetteer) < LARGE_VOCAB:
            raise RuntimeError(f"open vocabulary has {len(self.vocab.gazetteer)} surfaces, below {LARGE_VOCAB}")
        self.cfg = PipelineConfig(gazetteer=self.vocab.gazetteer)
        self.input = write_pandas(open_vocab_transcripts(self.vocab, run.seed, OPEN_CONVS), run.path("input"))
        self.warm_input = write_pandas(
            open_vocab_transcripts(self.vocab, run.seed + 1, OPEN_WARM_CONVS), run.path("warm_input")
        )

    def warm_up(self, run: Run) -> None:
        """A small build over the same vocabulary; it also fills the
        workers' matcher caches."""
        spark = run.spark
        pipeline.run_pipeline(spark, spark.read.parquet(self.warm_input), run.path("warm"), self.cfg, resume=True)

    def measure(self, run: Run) -> None:
        spark = run.spark
        tr = spark.read.parquet(self.input)
        kg = run.path("kg")
        self.built = run.timed("build", "build", pipeline.run_pipeline, spark, tr, kg, self.cfg, resume=True)
        resume_reruns(run, tr, kg, self.cfg)
        self.reads = read_phase(run, kg) if run.tracer is not None else None

    def verify(self, run: Run, traced: bool) -> dict:
        kg = run.path("kg")
        groups = read_table(os.path.join(kg, "canonical_map"), ["text", "canonical_id"])
        run.check("build", checks.canonical_groups(groups, self.vocab.family))
        oracle_sample(run, self.input, os.path.join(kg, "triples"), self.vocab.gazetteer, "build")
        counts = footer_counts(kg, run.spark)
        run.counts.update(counts)
        if traced:
            check_reads(run, self.reads)
            linking_counts(run, self.built["canonical_map"], self.cfg)
            run.counts["files"], _ = parquet_stats(kg)
            _, run.counts["input_mb"] = parquet_stats(self.input)
        build_s = run.times["build"][0]
        return {"triples_per_s": counts["triples"] / build_s, "commit_p50_s": build_s}


# --- incremental_append -----------------------------------------------------------


def split_conversations(sizes: dict[str, int], n: int) -> list[list[str]]:
    """Conversation-complete micro-batches of near-equal turn counts:
    longest conversations first, each to the lightest batch."""
    batches: list[list[str]] = [[] for _ in range(n)]
    load = [0] * n
    for conv, turns in sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0])):
        j = min(range(n), key=lambda b: (load[b], b))
        batches[j].append(conv)
        load[j] += turns
    return batches


class IncrementalAppend:
    name = "incremental_append"

    def inputs(self, run: Run) -> None:
        self.cfg = PipelineConfig()
        pdf = transcripts_pandas(INC_CONVS, seed=run.seed)
        self.input = write_pandas(pdf, run.path("input"))
        sizes = pdf.groupby("conv_id").size().to_dict()
        self.batches = [
            write_pandas(pdf[pdf["conv_id"].isin(convs)], run.path(f"batch{b}"))
            for b, convs in enumerate(split_conversations(sizes, MICRO_BATCHES))
        ]

    def warm_up(self, run: Run) -> None:
        """The reference build of the whole input."""
        spark = run.spark
        pipeline.run_pipeline(spark, spark.read.parquet(self.input), run.path("ref"), self.cfg, resume=True)

    def measure(self, run: Run) -> None:
        spark = run.spark
        self.store = TableStore(spark, run.path("inc"))
        self.stats = [
            run.timed(f"batch{b}", "batch", incremental.process_kg_batch, spark, self.store, spark.read.parquet(p), b, self.cfg)
            for b, p in enumerate(self.batches)
        ]
        tr = spark.read.parquet(self.input)
        run.timed("compact", "compact", incremental.compact_kg, spark, self.store.root, self.cfg, tr)
        resume_reruns(run, tr, run.path("ref"), self.cfg)
        self.reads = read_phase(run, self.store.root) if run.tracer is not None else None

    def verify(self, run: Run, traced: bool) -> dict:
        inc, ref = run.path("inc"), run.path("ref")
        for t in ("kg_nodes", "kg_edges"):
            run.check("compact", checks.same_rows(read_table(os.path.join(inc, t)), read_table(os.path.join(ref, t)), t))
        oracle_sample(run, self.input, os.path.join(inc, "triples"), DEFAULT_GAZETTEER, "compact")
        n_triples = sum(s["n_triples"] for s in self.stats)
        run.counts.update(
            {
                "segments": sum(s["n_segments"] for s in self.stats),
                "mentions": sum(s["n_mentions"] for s in self.stats),
                "triples": n_triples,
                "incremental.remaps": sum(s["n_remaps"] for s in self.stats),
            }
        )
        if traced:
            check_reads(run, self.reads)
            run.counts["incremental.state_nodes"] = len(read_table(os.path.join(inc, "link_nodes"), ["node_id"]))
            canonical = self.store.read("canonical_state")
            linking_counts(run, canonical, self.cfg)
            run.counts["files"], _ = parquet_stats(inc)
            _, run.counts["input_mb"] = parquet_stats(self.input)
        ingest_s = sum(run.times["batch"]) + run.times["compact"][0]
        return {"triples_per_s": n_triples / ingest_s, "commit_p50_s": statistics.median(run.times["batch"])}


WORKLOADS = {w.name: w for w in (BatchOpenVocab, IncrementalAppend)}
