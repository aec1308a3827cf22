"""End-to-end pipeline: transcripts -> (nodes, edges, canonical map).

Mirrors the reference's build lifecycle (``JavacpgDDGBuilder.buildForAll``,
SURVEY §3) as one declarative Spark job:

    read transcripts
      -> structural + flow + call/return triples   [1 shuffle: hash(conv_id)]
      -> detect_mentions pandas UDF + explode       [map-side]
      -> broadcast-join dictionary + score + rank   [map-side + tiny rank
                                                     shuffle on mention id]
      -> reaching-reference window (ref.*)          [shuffle: (conv, entity)]
      -> alias pairs -> iterative CC -> same_as     [driver loop, k small
                                                     shuffles on entity]
      -> union all edge layers; nodes union         [no extra shuffle]

The reference does all of this single-threaded per file with three static
maps as shared state (``JavacpgDDGBuilder.java:32-36``); here per-conv_id
parallelism is the unit of scale and the dictionary is the only broadcast
state, so the job scales horizontally in the number of conversations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from jcpg_spark import schema as S
from jcpg_spark.operators import calls, canonicalize, linking, mentions, references, structural


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    mentions: DataFrame
    linked: DataFrame
    canonical: DataFrame  # (mention_id, canonical_id)
    cc_rounds: int
    cc_converged: bool


DEFAULT_FAILURE_RX = r"^tool output: no results"


def edge_layers(
    transcripts: DataFrame,
    m: DataFrame,
    linked: DataFrame,
    mapping: DataFrame,
    failure_rx: str = DEFAULT_FAILURE_RX,
) -> DataFrame:
    """Union of every edge layer — the ONE place the graph's layer list
    lives (build_graph and the resumable materializer both compose from
    here, so they cannot drift).

    The two text-reading layers (typed CDG entry + THROWS) ride the fused
    emitter's single window pass via its ``failure_rx`` opt-in — the
    pipeline's transcripts are persisted, so the text column is a cache
    read, not a second window. IMPORTS is a distinct projection off
    linked.
    """
    return (
        calls.cfg_triples(transcripts, failure_rx=failure_rx)
        .unionByName(structural.sentence_triples(transcripts))
        .unionByName(mentions.ast_has_mention(m))
        .unionByName(mentions.in_sentence_triples(m))
        .unionByName(references.reference_triples(linked))
        .unionByName(linking.import_triples(linked))
        .unionByName(canonicalize.same_as_triples(mapping))
    )


def node_layers(
    transcripts: DataFrame,
    m: DataFrame,
    linked: DataFrame,
    committed_ids: DataFrame | None = None,
) -> DataFrame:
    """Union of every node layer (shared by build_graph and materialize).

    Turn nodes carry the per-turn DEF/USE sets in their property bag — the
    reference's per-node defs/uses arrays (CodePropertyGraph.java:202-203,
    308-309), carried into the GML/JSON exports.

    The global layers (entity, tool, role, namespace: ``conv_id`` null) come
    last. ``committed_ids`` (the ``node_id`` of the global nodes already
    materialized: vocabulary-sized, so broadcast) drops the global nodes an
    earlier batch committed. The per-conversation layers stay first and
    untouched, so their generated code is the same with or without it.
    """
    turn_nodes = (
        structural.turn_nodes(transcripts)
        .join(references.def_use_rollup(linked), ["conv_id", "turn_idx"], "left")
        .withColumn(
            "props",
            F.map_concat(
                F.col("props"), S.props_map(defs=F.col("defs"), uses=F.col("uses"))
            ),
        )
        .drop("defs", "uses")
    )
    global_nodes = (
        references.entity_nodes(linked)
        .unionByName(calls.tool_nodes(transcripts))
        .unionByName(calls.role_nodes(transcripts))
        .unionByName(linking.namespace_nodes(linked))
    )
    if committed_ids is not None:
        global_nodes = global_nodes.join(F.broadcast(committed_ids), "node_id", "left_anti")
    return (
        structural.conversation_nodes(transcripts)
        .unionByName(turn_nodes)
        .unionByName(mentions.mention_nodes(m))
        .unionByName(structural.segment_nodes(transcripts))
        .unionByName(structural.sentence_nodes(transcripts))
        .unionByName(global_nodes)
    )


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    cc_max_iter: int = 25,
    learn_def_effects: bool = False,
    failure_rx: str = DEFAULT_FAILURE_RX,
) -> PipelineResult:
    if learn_def_effects:
        # signature fixpoint (JavacpgDDGBuilder.java:102-117 analog): learn
        # missing defs_state bits from tool-return re-mention evidence
        # before the linking pass (see operators/def_effects.py)
        from jcpg_spark.operators.def_effects import propagate_def_effects

        dictionary, _rounds, _converged = propagate_def_effects(
            spark, transcripts, dictionary
        )

    surfaces = [r["surface"] for r in dictionary.select("surface").distinct().collect()]

    # transcripts may itself be a derived plan (e.g. the events adapter's
    # window); it feeds ~8 consumers below — persist so the source is
    # computed once instead of once per edge layer. swap_persist slots
    # release the previous build's caches, so repeated build_graph calls
    # (bench loops, long sessions) never accumulate cached RDDs.
    from jcpg_spark.caching import swap_persist

    transcripts = swap_persist("pipeline.transcripts", transcripts)

    # the alias-introduction predicate rides the tokenization pass as a
    # turn_flag (one regex per turn, map-side) so alias_pairs needs no
    # second text scan or broadcast semi-join — see canonicalize.alias_pairs
    m = mentions.detect_mentions(
        spark, transcripts, surfaces, turn_flag_rx=canonicalize.INTRO_RX
    )
    # the mention-detection pandas UDF is the most expensive map stage; it
    # feeds both ast_has_mention and linking — persist to run it once.
    m = swap_persist("pipeline.mentions", m)
    linked = linking.link_mentions(m, dictionary)
    # linked feeds three consumers (ref edges, alias pairs, canonical map) —
    # persist so mention detection + linking run once.
    linked = swap_persist("pipeline.linked", linked)

    # alias_pairs keeps its closing distinct here (r6 measured): the CC
    # fast path COLLECTS the pair set, so shuffling the dedup out of the
    # plan would move intro-turn-scale rows to the driver instead of the
    # entity-vocabulary-scale set (flagship wall 6.6s -> 8.5s when tried).
    pairs = canonicalize.alias_pairs(transcripts, linked)
    mapping, rounds, converged = canonicalize.connected_components(pairs, max_iter=cc_max_iter)

    # fused CFG/ICFG/CDG emitter: ast.has_turn + act.role + flow.* +
    # call/return + cdg.in_segment/cdg.follows in a single window pass
    # (see calls.cfg_triples) instead of eight separately-shuffled layers;
    # full layer list in edge_layers/node_layers above.
    edges = edge_layers(transcripts, m, linked, mapping, failure_rx=failure_rx)
    nodes = node_layers(transcripts, m, linked)
    canonical = canonicalize.canonical_map(linked, mapping)
    return PipelineResult(
        nodes=nodes,
        edges=edges,
        mentions=m,
        linked=linked,
        canonical=canonical,
        cc_rounds=rounds,
        cc_converged=converged,
    )
