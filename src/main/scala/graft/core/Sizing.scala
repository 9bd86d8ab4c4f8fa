package graft.core

/** The ONE table of sized-dispatch bounds. Every measured-size tier
  * decision in the engine (count a materialized frame, compare to a
  * bound, pick a physical shape) reads its default bound from here, so
  * a bound changes in one place and sites that must flip together
  * cannot drift apart. Which tier a call took is visible in its
  * physical plan (`Probe explain` / `Probe digests`).
  *
  * The refuse-loudly guards (Calibrate's `maxHistCells`/`maxCells`,
  * Terms' `windowCap`) are safety checks, not tiers, and stay with
  * their operators.
  */
object Sizing {

  /** Rows a measured key / edge / pair frame may have and still be
    * broadcast (or ride a single-pass shape that broadcasts it): ~32 MB
    * of long keys, comfortably inside executor broadcast budgets.
    * Used by `TextOps.sizedSemiJoin`, `Triangles.triangleCounts` (node
    * and edge bounds), `NearDup.dedupRecallEval` and
    * `NearDup.dedupClusters`' edge broadcast. */
  val MaxBroadcastRows: Long = 4000000L

  /** Corpus rows through which every ANN sized dispatch holds its
    * registered fixed shape: `Similarity.lshTopKAuto`'s nested-loop
    * plan and `Similarity.adaptiveCentroids`' floor. One engage point,
    * so the whole family flips at one documented corpus size, above
    * every oracle scale (sf0.1 embeddings are 2k rows). */
  val AnnHoldRows: Long = 4096L

  /** Upper clamp of `Similarity.adaptiveCentroids`' √N rule. */
  val MaxCentroids: Int = 4096

  /** Expected rows per hash bucket that the occupancy-adaptive widths
    * (`Similarity.adaptiveRowsPerBand`, `NearDup.hammingAutoBands`)
    * hold: a width widens (or a band count steps down) once
    * n / 2^bits exceeds it. */
  val TargetOccupancy: Long = 128L

  /** Trained BPE vocabulary size up to which `Bpe` segments by one
    * broadcast join against the training state; above it the kernel
    * chain runs. */
  val MaxBroadcastVocab: Long = 2000000L

  /** Pair count up to which `NearDup.dedupClusters` resolves components
    * with a driver-side union-find (1M pairs ≈ 16 MB of ids). */
  val MaxLocalPairs: Long = 1000000L

  /** `Similarity.lshNeighborPairsAuto`'s candidate join-back broadcasts
    * the (id, v, vn) table only from this many rows (below it the fixed
    * broadcast build cost exceeds what it saves) ... */
  val MinBroadcastVectorRows: Long = 65536L

  /** ... and only while that table stays within this many bytes. */
  val MaxBroadcastVectorBytes: Long = 1500000000L
}
