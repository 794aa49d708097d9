"""Resumable staged materialization of the KG build.

Implements north_rule's checkpoint/resume contract: each stage writes a
snapshot-committed table (io.write_table: parquet + atomic manifest with
per-partition lineage); a rerun skips every committed stage and resumes
from the first uncommitted one, reading upstream stages from their
snapshots instead of recomputing (the reference has no analog — a crashed
run restarts from zero; SURVEY §4.2 item 4).

Stage graph (each node = one committed table):

    transcripts (input)
      -> mentions            (pandas-UDF detection)
      -> linked              (broadcast ranked linking)
      -> alias_mapping       (alias pairs + connected components)
      -> edges   [bucketed]  (all triple layers)
      -> nodes   [bucketed]
      -> canonical
      -> _metrics            (per-pred triple counts; lineage lives in
                              each table's manifest)

Determinism: all stage outputs are content-keyed and partition-invariant,
so a resumed run's tables are row-identical to a clean run's (pytest
kill/resume test).

Serving view: ``read_graph_edges`` composes the graph (committed edges
without same_as, plus same_as derived from the current alias_mapping)
and persists it, so the queries a caller runs on the returned frame scan
one in-memory relation. Each call composes afresh from the current
commits; the view occupies one ``caching`` slot, so a call releases the
previous call's view, and ``clear_caches()`` drops it. Build paths
(``append_conversations``' ``_metrics``) use the uncached
``_compose_graph_edges`` so a build never pins a graph."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from jcpg_spark import io as tio
from jcpg_spark import metrics as tmetrics
from jcpg_spark.caching import swap_persist
from jcpg_spark.operators import canonicalize, linking, mentions


@dataclass
class RunSummary:
    out_dir: str
    stages_computed: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    manifests: dict = field(default_factory=dict)
    stage_walls: dict = field(default_factory=dict)  # name -> seconds (computed stages)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    out_dir: str,
    resume: bool = True,
    fail_after: str | None = None,
) -> RunSummary:
    """Run all stages, skipping committed snapshots when ``resume``.

    ``fail_after`` injects a crash after the named stage commits — used by
    the kill/resume test to simulate a mid-job failure.
    """
    summary = RunSummary(out_dir=out_dir)

    def stage(name: str, compute, bucket_col: str | None = None):
        if resume and tio.is_committed(out_dir, name):
            summary.stages_skipped.append(name)
            summary.manifests[name] = tio.read_manifest(out_dir, name)
        else:
            t0 = time.time()
            df = compute()
            summary.manifests[name] = tio.write_table(
                df, out_dir, name, bucket_col=bucket_col
            )
            summary.stage_walls[name] = round(time.time() - t0, 2)
            summary.stages_computed.append(name)
            if fail_after == name:
                raise RuntimeError(f"injected failure after stage {name}")
        return tio.read_table(spark, out_dir, name)

    surfaces = [r["surface"] for r in dictionary.select("surface").distinct().collect()]
    # feeds mentions, alias pairs and both layer sets; the keyed slot
    # releases the previous call's input, so a long session holds one
    transcripts = swap_persist("materialize.transcripts", transcripts)

    m = stage(
        "mentions",
        lambda: mentions.detect_mentions(
            spark, transcripts, surfaces, turn_flag_rx=canonicalize.INTRO_RX
        ),
    )
    linked = stage("linked", lambda: linking.link_mentions(m, dictionary))

    def _mapping():
        pairs = canonicalize.alias_pairs(transcripts, linked)
        mapping, _rounds, _conv = canonicalize.connected_components(pairs)
        return mapping

    mapping = stage("alias_mapping", _mapping)

    # edges bucketed by the entity var (falls back to src for non-entity
    # triples) — the parquet stand-in for Iceberg bucket(N, entity_hash)
    # per north_star; later entity-keyed joins co-locate. Layer lists are
    # SHARED with build_graph (pipeline.edge_layers/node_layers) so the
    # staged path cannot drift from the direct one.
    from pyspark.sql import functions as F

    from jcpg_spark.pipeline import edge_layers, node_layers

    def _edges_bucketed():
        return edge_layers(transcripts, m, linked, mapping).withColumn(
            "_bucket_key", F.coalesce(F.col("var"), F.col("src"))
        )

    edges = stage("edges", _edges_bucketed, bucket_col="_bucket_key")
    edges = edges.drop("_bucket_key")

    stage("nodes", lambda: node_layers(transcripts, m, linked), bucket_col="node_id")
    stage("canonical", lambda: canonicalize.canonical_map(linked, mapping))
    stage("_metrics", lambda: tmetrics.edge_metrics(edges))
    return summary


def append_conversations(
    spark: SparkSession,
    new_transcripts: DataFrame,
    dictionary: DataFrame,
    out_dir: str,
    check_disjoint: bool = True,
) -> RunSummary:
    """Incremental ingest: extend a materialized pipeline directory with a
    batch of NEW conversations — O(new data) work and O(new data) commits,
    the batch sibling of the streaming layers.

    Every per-conversation layer (AST/CFG/ICFG/CDG/DDG/IMPORTS) appends as
    a snapshot (io.write_table mode="append": parent directories + one new
    — no rewrite of existing files). The one CROSS-conversation layer,
    entity canonicalization, cannot append: a new alias can merge two
    PRE-EXISTING components. It is re-solved as union-find over (previous
    mapping pairs ∪ new alias pairs) — both entity-vocabulary-sized, the
    IncrementalCanonicalizer's argument — and the dimension tables
    (alias_mapping, canonical, _metrics) are REPLACED, which is cheap
    because they are vocabulary- not corpus-sized. Consequently same_as
    edges are NOT materialized into the appended edge snapshots;
    ``read_graph_edges`` below derives them from the current mapping on
    read, so the composed graph is row-identical to a from-scratch
    ``build_graph`` over the full corpus (pytest-gated).

    ``check_disjoint`` guards re-ingest (a conv_id already materialized):
    one distinct-join on conv_id against the committed mentions table —
    at 10^12 turns disable it and enforce upstream, the standard
    idempotence trade.
    """
    from pyspark.sql import functions as F

    from jcpg_spark.pipeline import edge_layers, node_layers

    summary = RunSummary(out_dir=out_dir)
    for required in ("mentions", "edges", "alias_mapping"):
        if not tio.is_committed(out_dir, required):
            raise ValueError(
                f"append_conversations needs a materialized pipeline (run_pipeline) "
                f"first; stage {required!r} is not committed in {out_dir}"
            )
    if check_disjoint:
        seen = tio.read_table(spark, out_dir, "mentions").select("conv_id").distinct()
        clash = (
            new_transcripts.select("conv_id").distinct()
            .join(seen, "conv_id", "left_semi").limit(1).count()
        )
        if clash:
            raise ValueError("new_transcripts overlaps already-materialized conv_ids")

    new_transcripts = swap_persist("materialize.new_transcripts", new_transcripts)
    surfaces = [r["surface"] for r in dictionary.select("surface").distinct().collect()]

    def stage(name: str, compute, mode: str, bucket_col: str | None = None):
        t0 = time.time()
        df = compute()
        summary.manifests[name] = tio.write_table(
            df, out_dir, name, bucket_col=bucket_col, mode=mode
        )
        summary.stage_walls[name] = round(time.time() - t0, 2)
        summary.stages_computed.append(name)
        return tio.read_table(spark, out_dir, name)

    m_new = mentions.detect_mentions(
        spark, new_transcripts, surfaces, turn_flag_rx=canonicalize.INTRO_RX
    )
    stage("mentions", lambda: m_new, mode="append")
    m_new = None  # re-read below so downstream consumes the committed snapshot
    m_committed = tio.read_table(spark, out_dir, "mentions")
    m = m_committed.join(
        new_transcripts.select("conv_id").distinct(), "conv_id", "left_semi"
    )
    linked_new = linking.link_mentions(m, dictionary)
    stage("linked", lambda: linked_new, mode="append")

    # merged canonicalization: previous component edges + new alias pairs
    prev_pairs = tio.read_table(spark, out_dir, "alias_mapping").select(
        F.col("entity").alias("a"), F.col("canonical_id").alias("b")
    )
    new_pairs = canonicalize.alias_pairs(new_transcripts, linked_new)
    mapping, _rounds, _conv = canonicalize.connected_components(
        prev_pairs.unionByName(new_pairs)
    )
    stage("alias_mapping", lambda: mapping, mode="replace")

    empty_mapping = mapping.limit(0)
    stage(
        "edges",
        lambda: edge_layers(new_transcripts, m, linked_new, empty_mapping).withColumn(
            "_bucket_key", F.coalesce(F.col("var"), F.col("src"))
        ),
        mode="append",
        bucket_col="_bucket_key",
    )
    stage(
        "nodes",
        lambda: node_layers(new_transcripts, m, linked_new),
        mode="append",
        bucket_col="node_id",
    )
    linked_all = tio.read_table(spark, out_dir, "linked")
    stage("canonical", lambda: canonicalize.canonical_map(linked_all, mapping),
          mode="replace")
    stage("_metrics", lambda: tmetrics.edge_metrics(_compose_graph_edges(spark, out_dir)),
          mode="replace")
    return summary


def _compose_graph_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """Uncached graph edge view of a materialized directory: the committed
    per-conversation layers plus same_as derived from the CURRENT
    alias_mapping. Under ``append_conversations`` the appended snapshots
    never contain same_as rows, so deriving them here (and dropping any
    from the initial full run) keeps the composed graph exactly equal to
    a from-scratch build over the full corpus even after components
    merged across appends. Build paths use this form so a build never
    pins a graph in the cache."""
    from pyspark.sql import functions as F

    edges = tio.read_table(spark, out_dir, "edges")
    if "_bucket_key" in edges.columns:
        edges = edges.drop("_bucket_key")
    mapping = tio.read_table(spark, out_dir, "alias_mapping")
    return edges.filter(F.col("pred") != "same_as").unionByName(
        canonicalize.same_as_triples(mapping)
    )


def read_graph_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """Serving view of a materialized directory's graph: the rows of
    ``_compose_graph_edges`` at the current commits, persisted
    (MEMORY_AND_DISK) so every query run on the returned frame reads one
    in-memory relation instead of re-listing 32 bucket files, re-deriving
    same_as and re-unioning per query. Call it once and query the frame;
    a later call composes again and releases this call's view."""
    return swap_persist("materialize.graph_edges", _compose_graph_edges(spark, out_dir))
