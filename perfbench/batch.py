"""The two batch workloads: ``graph_loops`` and ``ml_batch``.

Each op is one call into a layer's public function, with bench.py's
parameters except where ``README.md`` says otherwise. The timed action is one aggregate over the op's output that
reads every column (row count plus an order-independent xxhash64 sum), so
Catalyst cannot prune value columns the way ``.count()`` lets it. The
output of the last pass is checked afterwards, outside the timers, against
the DuckDB twin from ``__spark_entry__.oracle_sql()``, or, for the REST
op, against a direct call of the same registry function.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SF = "sf0.01"
INF = float("inf")


@dataclass
class Op:
    name: str
    layer_metric: str           # per-layer wall metric of this op
    call: Callable[[], object]  # returns a DataFrame, or (count, checksum, value)
    check: Callable[[object], Optional[str]]  # output of the last pass -> error or None


def checksum(out) -> tuple:
    """(rows, checksum, kept) — the timed action of one op."""
    if isinstance(out, DataFrame):
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*out.columns), F.lit(2147483647))).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0), out
    return out


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def load_inputs(spark, workload: str, data_dir: str, nproc: int, work_dir) -> dict:
    """Input derivation and caching (the ``datasets`` / ``sources`` layer).
    graph_loops also writes the event-chain edges as the ``src dst value``
    text file that the REST import reads."""
    from kafka_graphs_spark import datasets

    sf_dir = f"{data_dir}/{SF}"
    if workload == "graph_loops":
        ec = datasets.event_chain_graph(spark, sf_dir).persist()
        ec.vertices.count()
        edges_file = work_dir / "ec_edges.txt"
        edges_file.write_text("".join(f"{r.src} {r.dst} {r.value!r}\n"
                                      for r in ec.edges.collect()))
        return {"ec": ec, "edges_file": str(edges_file), "cached": [ec.vertices, ec.edges]}
    docs = datasets.load(spark, sf_dir, "documents").repartition(nproc).persist()
    ece = datasets.event_chain_edges(spark, sf_dir).persist()
    for df in (docs, ece):
        df.count()
    sp = datasets.supplier_part_graph(spark, sf_dir)
    return {"docs": docs, "ece": ece, "sp": sp, "cached": [docs, ece]}


def warm_up(inputs: dict) -> None:
    """bench.py's warm-up for the loop machinery: one PageRank round."""
    from kafka_graphs_spark.library import pagerank

    pagerank(inputs["ec"], max_iterations=1).count()


#: relaxation rounds of the sssp op: the source sits this many hops before
#: the end of its chain
SSSP_HOPS = 16


def pick_source(spark, data_dir: str, seed: int) -> tuple[int, int, int]:
    """(user_id, chain position, event id) of the seed's sssp source.

    The seed picks one chain among those of the modal length, by its head
    from ``datasets.chain_sources``; the source is the event ``SSSP_HOPS``
    hops before that chain's end. Every seed therefore runs the same number
    of relaxation rounds, and seeds differ only in which vertices the
    frontier walks.
    """
    from kafka_graphs_spark import datasets

    sf_dir = f"{data_dir}/{SF}"
    ev = datasets.load(spark, sf_dir, "events")
    lengths = {r["user_id"]: r["n"] for r in
               ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    heads = datasets.chain_sources(spark, sf_dir, len(lengths))  # ordered by user_id
    counts = {}
    for n in lengths.values():
        counts[n] = counts.get(n, 0) + 1
    modal = max(sorted(counts), key=counts.get)
    cands = [(u, h) for u, h in zip(sorted(lengths), heads) if lengths[u] == modal]
    user, head = cands[seed % len(cands)]
    chain = [r["event_id"] for r in
             ev.filter(F.col("user_id") == user).orderBy("ts", "event_id").collect()]
    if chain[0] != head:
        raise ValueError(f"chain of user {user} starts at {chain[0]}, not at its head {head}")
    pos = modal - 1 - SSSP_HOPS
    return user, pos, chain[pos]


def sssp_twin(oracle, user: int, pos: int) -> str:
    """``ec_sssp``'s twin, re-pointed from the smallest user's chain head to
    position ``pos`` of ``user``'s chain."""
    sql = oracle.sql("ec_sssp")
    for old, new in (("WHERE user_id = (SELECT MIN(user_id) FROM events)",
                      f"WHERE user_id = {int(user)} AND rn >= {int(pos)}"),
                     ("CASE WHEN rn > 0 THEN w END", f"CASE WHEN rn > {int(pos)} THEN w END")):
        if old not in sql:
            raise ValueError(f"ec_sssp twin no longer contains {old!r}")
        sql = sql.replace(old, new)
    return sql


# ---------------------------------------------------------------------------
# op lists
# ---------------------------------------------------------------------------

def graph_loops_ops(spark, inputs: dict, oracle, rest, source: tuple) -> list[Op]:
    from kafka_graphs_spark.library import pagerank, sssp

    ec = inputs["ec"]
    user, pos, src = source
    sssp_sql = sssp_twin(oracle, user, pos)
    return [
        Op("pagerank5", "library.pagerank5_s",
           lambda: pagerank(ec, max_iterations=5),
           lambda df: oracle.compare(df.select("id", "value"), "ec_pagerank5")),
        Op("sssp", "library.sssp_s",
           lambda: sssp(ec, src_vertex_id=src, max_iterations=500),
           lambda df: oracle.compare(
               df.filter(F.col("value") < INF).select("id", F.round("value", 4).alias("value")),
               "ec_sssp", sql=sssp_sql)),
        Op("rest_wcc", "service.pass_s", rest.one_pass, rest.check),
    ]


def ml_batch_ops(spark, inputs: dict, oracle, data_dir: str) -> list[Op]:
    from kafka_graphs_spark import datasets
    from kafka_graphs_spark.library import local_clustering_coefficient_pregel
    from kafka_graphs_spark.pipeline import text
    from kafka_graphs_spark.streaming import (
        collect_summaries,
        connected_components as stream_components,
    )

    sf_dir = f"{data_dir}/{SF}"
    docs, ece, sp = inputs["docs"], inputs["ece"], inputs["sp"]

    def stream_cc():
        comps = collect_summaries(stream_components(ece))[0].components()
        h = sum((int(k) * 1000003 + int(v)) % 2147483647 for k, v in comps.items())
        return len(comps), h, comps

    return [
        Op("tfidf", "pipeline.tfidf_s",
           lambda: text.tfidf_keywords(docs, k=3),
           lambda df: oracle.compare(
               df.select("doc_id", "token", F.round("score", 6).alias("score"), "rank"),
               "doc_tfidf_keywords")),
        Op("sp_degrees", "graph.sp_degrees_s",
           lambda: sp.out_degrees().unionByName(sp.in_degrees()),
           lambda df: oracle.compare(df, ["sp_out_degrees", "sp_in_degrees"])),
        Op("pregel_lcc", "pregel.lcc_s",
           lambda: local_clustering_coefficient_pregel(datasets.hierarchy_graph(spark, sf_dir)),
           lambda df: oracle.compare(df, "hier_lcc_pregel")),
        Op("stream_cc", "streaming.cc_fold_s", stream_cc,
           lambda comps: oracle.compare_components(comps, "ec_wcc")),
    ]

