package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sizing

/** Co-occurrence graph construction + degree-ordered triangle counting
  * (builder brief; no reference analog — graph structure over behavioral
  * data, the community-detection complement to PageRank's centrality).
  *
  * Scale design:
  *  - Edge building is the blocked-pair discipline (NearDup): pairs are
  *    enumerated only WITHIN a bucket, so the quadratic term is bounded
  *    by the largest bucket, and the `minShared` HAVING filter runs
  *    map-side-combinable aggregation on (a, b) — one shuffle keyed by
  *    the pair. At 100 TB the hub-bucket mitigation is the
  *    `maxOccupancy` cap (implemented r12, registered as q210): drop
  *    buckets past a size bound — a hub hour in a co-visitation graph
  *    carries no pairwise signal anyway.
  *  - Triangle counting uses DEGREE-ORDERED ORIENTATION (Cohen 2009 /
  *    Suri–Vassilvitskii 2011, public): orient every edge from its
  *    (degree, id)-smaller endpoint; every node's OUT-degree is then
  *    O(√E) on any graph, so the wedge self-join — the algorithm's only
  *    super-linear term — is Σ outdeg² ≤ E^1.5 instead of the Σ deg²
  *    that a naive adjacency join pays on skewed graphs (a single hub
  *    of degree d costs d² wedges un-oriented, ~E oriented). All three
  *    steps are plain equi-joins: Catalyst shuffles on the join keys,
  *    AQE handles residual skew, nothing is collected.
  */
object Triangles {

  /** Weighted co-occurrence edges: ids sharing at least `minShared`
    * distinct buckets (the bucketCols tuple) become an undirected edge
    * (a, b, shared) with a < b. One distinct pass, one within-bucket
    * pair join, one pair-keyed count — no cross-bucket term. Two r20
    * restructures were tried and REJECTED on measurement: (1) an
    * in-row pair-explode variant (bucket-keyed collect_set +
    * Generate×Generate, no join) — ×10 edge build 94/82 s vs the
    * join's 55/57 s; the per-element `filter(ids)` array allocations
    * lose to the streaming sort-merge join, which materializes
    * nothing; (2) an eager checkpoint of the distinct pass — sf0.1
    * q113/q114/q210 ABAB 6.06 → 7.52 s and ×10 a wash (54.7 vs
    * 51.7 s with the materialization cost excluded): ReuseExchange
    * already dedupes the distinct's exchange across the self-join
    * sides, so the checkpoint buys no recompute and pays one
    * materialization per bench rep.
    *
    * `maxOccupancy` is the HUB-BUCKET CAP this scaladoc always
    * documented as the 100 TB dial, now a first-class parameter
    * (SCALE.md F10): buckets holding more than `maxOccupancy` distinct
    * ids are DROPPED before pair enumeration, bounding the per-bucket
    * quadratic term at cap² and total candidates at ~buckets·cap² — a
    * hub hour in a co-visitation graph carries no pairwise signal
    * anyway (any two ids co-occur there by crowd size, not behavior).
    * The cap CHANGES the query's meaning (edges whose shared count
    * relied on hub buckets lose them), so it is never auto-engaged:
    * the default keeps every bucket, and the capped form is its own
    * registered query (q210). The occupancy census rides the same
    * bucket-key exchange as the pair join's distinct pass.
    */
  def coOccurrenceEdges(df: DataFrame, idCol: String,
                        bucketCols: Seq[String], minShared: Long,
                        maxOccupancy: Long = Long.MaxValue): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    require(maxOccupancy >= 1, s"maxOccupancy=$maxOccupancy must be >= 1")
    val b0 = df.select(col(idCol).as("id") +: bucketCols.map(col): _*).distinct()
    val b =
      if (maxOccupancy == Long.MaxValue) b0
      else {
        val keep = b0.groupBy(bucketCols.map(col): _*)
          .agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") <= maxOccupancy)
          .select(bucketCols.map(col): _*)
        b0.join(keep, bucketCols, "left_semi")
      }
    val bk = bucketCols.map(c => col(c))
    val l = b.select(col("id").as("a") +: bk: _*)
    val r = b.select(col("id").as("b") +: bk: _*)
    l.join(r, bucketCols)
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Per-node triangle participation over undirected `edges`
    * (srcCol, dstCol; canonical src < dst, no repeats): emits
    * (node, n_triangles) for every node in at least one triangle. Each
    * triangle contributes once to each of its three corners.
    *
    * Plan shape (r20, guide §2.4/§3.1 — was 34 Exchanges / 4 chained
    * SMJs): the edge frame is ONE eager checkpoint, and ONE scalar
    * `count()` over its blocks drives every tier decision. Nodes ≤
    * 2·edges, so `2·nEdges ≤ maxBroadcastNodes` certifies the degree
    * broadcast without a second count job (degree rows are two longs;
    * the 4M default is ~64 MB built): both degree attach joins
    * are then broadcast hash joins whose identical build subtrees
    * dedupe via ReuseExchange, so `deg` is computed once with no
    * checkpoint. Past that bound (the merge tier) the attach joins are
    * merge-hinted and `deg` alone is an eager checkpoint, so the
    * union-aggregate runs once instead of once per attach join. The
    * closing join broadcasts the oriented edge list while `nEdges ≤
    * maxBroadcastEdges` and is merge-hinted past it. Only the wedge
    * self-join — the algorithm's inherent quadratic term — shuffles
    * at every size.
    *
    * REJECTED (r20, measured): repartitioning `oriented` by src and
    * eagerly checkpointing it, so the wedge self-join would consume
    * one baked-in exchange. It measured 3.34/3.59 s vs 3.02 s at
    * sf0.1 — the checkpoint materialization cost more than the
    * recompute it saved, since the broadcast builds are map-side and
    * reused (SCALE.md §14).
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String,
                     maxBroadcastNodes: Long = Sizing.MaxBroadcastRows,
                     maxBroadcastEdges: Long = Sizing.MaxBroadcastRows): DataFrame = {
    // Eager localCheckpoint, the PageRank doctrine: degrees, orientation
    // and the wedge join all re-reference the edge frame — truncate the
    // (typically expensive) edge-producing lineage once.
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .localCheckpoint(true)
    // ONE scalar count over the checkpoint blocks drives every tier
    // decision: nodes ≤ 2·edges, so `2·nEdges ≤ maxBroadcastNodes`
    // certifies the degree broadcast without a second count job
    val nEdges = e.count()
    val degBroadcast = 2 * nEdges <= maxBroadcastNodes
    val deg0 = e.select(col("a").as("u"))
      .union(e.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("d"))
    // broadcast tier: the two identical broadcast-build subtrees
    // dedupe via ReuseExchange, so deg is computed once with NO
    // checkpoint job; merge tier: the checkpoint keeps the union-
    // aggregate from running once per attach join
    val deg = if (degBroadcast) deg0 else deg0.localCheckpoint(true)
    val degA = deg.withColumnRenamed("u", "a").withColumnRenamed("d", "da")
    val degB = deg.withColumnRenamed("u", "b").withColumnRenamed("d", "db")
    // orient: src = the (degree, id)-smaller endpoint; the rank is the
    // lexicographically-ordered STRUCT (degree, id) — unique per node
    // with no packing arithmetic to overflow — carried through the wedge
    // so the closing pair canonicalizes WITHOUT re-joining degrees
    val withDeg = (if (degBroadcast)
        e.join(broadcast(degA), "a").join(broadcast(degB), "b")
      else
        e.join(degA.hint("merge"), "a").join(degB.hint("merge"), "b"))
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("i")).as("ra"),
        struct(col("db").as("d"), col("b").as("i")).as("rb"))
    val oriented = withDeg.select(
      when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ra") < col("rb"), col("rb")).otherwise(col("ra")).as("rdst"))
    // wedges around each src: two out-edges (src→v), (src→w) with
    // rank(v) < rank(w); the triangle closes iff oriented edge (v→w)
    // exists — and orientation guarantees it would be stored as (v, w)
    val w1 = oriented.select(col("src"), col("dst").as("v"), col("rdst").as("rv"))
    val w2 = oriented.select(col("src"), col("dst").as("w"), col("rdst").as("rw"))
    val wedges = w1.join(w2, Seq("src")).filter(col("rv") < col("rw"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = (if (nEdges <= maxBroadcastEdges)
        wedges.join(broadcast(closing), Seq("v", "w"))
      else wedges.join(closing.hint("merge"), Seq("v", "w")))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
