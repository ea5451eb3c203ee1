package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise matches (x5/x12's output) into dedup CLUSTERS, so a
  * pipeline can keep one canonical document per group of mutual
  * near-dups instead of dropping both ends of every pair.
  *
  * Algorithm: minimum-label propagation with pointer jumping. Every
  * vertex starts labeled with itself; each round every vertex takes the
  * minimum of (a) its own label, (b) its neighbors' labels, and (c) its
  * label's label — the path-halving step of classic pointer-jumping
  * (Shiloach–Vishkin style), realized as one extra self-join of the
  * label table on `component = id`. Step (c) makes the distance to the
  * component minimum contract geometrically, so convergence needs
  * O(log d) rounds on a diameter-d graph rather than the d rounds plain
  * propagation needs — a 1000-hop chain converges in ~10 rounds (see
  * ClustersSpec's chain-graph test). Near-dup graphs are unions of
  * near-cliques (Jaccard >= 0.9 is close to transitive) and converge in
  * 2–3 rounds either way; the jumping step is what makes adversarial
  * path-shaped drift chains safe. If the fixpoint is still not reached
  * within `maxIter` rounds the call THROWS (IllegalStateException)
  * instead of silently returning a partial labeling — wrong canonical
  * ids in a dedup pipeline mean wrongly dropped documents, so
  * non-convergence must be observable.
  *
  * Scale design (100 TB): each round is one shuffle join (edges ⋈
  * labels on vertex id), one label self-join (labels are one row per
  * vertex — far smaller than the edge set), and one map-side-combinable
  * min-aggregate — no driver-side graph state, no O(n²) stage. Lineage
  * is truncated every round (`localCheckpoint`) so the plan does not
  * grow with iteration count, and the superseded round's blocks are
  * unpersisted as soon as the next round materializes, keeping cache
  * footprint at O(1) rounds. (`localCheckpoint` trades fault tolerance
  * for speed: an executor loss aborts the job. For long production runs
  * pass `checkpointDir` — the same loop switches to reliable
  * `checkpoint`s recomputable from durable storage; ClustersSpec
  * exercises both modes.) Convergence is detected from the
  * strictly-decreasing sum of labels: labels only ever decrease, so an
  * unchanged sum means an unchanged labeling — one cheap aggregate
  * instead of a join against the previous labeling. The checkpoints are
  * LAZY (`localCheckpoint(eager = false)`), so the sum aggregate is the
  * action that materializes each round's blocks — one job per round
  * with adaptive execution OFF. With AQE on (the session default),
  * building each checkpoint already runs its upstream shuffle stages
  * as jobs: ClustersSpec's 200-hop chain at `smallGraphThreshold = 0`
  * (local[4], 4 shuffle partitions) runs 9 jobs per round, against 1
  * with AQE off. The sum is accumulated as DECIMAL(38,0) so it cannot
  * overflow at any vertex count.
  */
object Clusters {

  /** Components of the undirected graph given by `pairs(aCol, bCol)`.
    * Returns one row per vertex that appears in any pair:
    * `(id, component)` with `component` = the minimum vertex id in the
    * component (a deterministic canonical representative).
    *
    * ADAPTIVE small-graph path: the iterative loop's several-jobs-per-
    * round fixed cost swamps a graph that is tiny (an sf0.1 embedding
    * graph converges in 2 rounds but still pays ~8 job launches). So
    * the pair list is first probed with `take(smallGraphThreshold + 1)`
    * — ONE incremental job that short-circuits as soon as the limit is
    * exceeded — and when the whole list fits, components come from a
    * driver-side union-find over the probed rows: exact, the same
    * minimum-label canonicalization, zero further jobs. The collect is
    * BOUNDED by the explicit threshold (the standing bounded-collect
    * pattern: PrefixSum's #partitions, Sampling's #strata) — default
    * 1M pairs ≈ 16 MB, i.e. "fits where a broadcast would". Pass 0 to
    * force the distributed loop.
    *
    * `checkpointDir` NOTE: reliable checkpointing requires the GLOBAL
    * `SparkContext.setCheckpointDir`. To avoid silently redirecting
    * other reliable checkpoints in the session to a possibly
    * job-scoped, caller-deleted directory, the dir is only set when
    * none is configured; if a DIFFERENT one is already set, this
    * throws rather than hijack it (pre-set the session dir yourself to
    * share one).
    *
    * @throws IllegalStateException if the fixpoint is not CONFIRMED
    *         within `maxIter` rounds. The sum-based check needs one
    *         no-change round past the fixpoint to observe it, so a
    *         labeling that becomes final exactly on round `maxIter`
    *         still throws — conservative by design (wrong canonical ids
    *         silently drop documents; an exception does not). With
    *         pointer jumping, needing many rounds means a component
    *         diameter around 2^rounds — adversarial input, not normal
    *         data.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None,
      smallGraphThreshold: Int = 1 << 20): DataFrame = {
    // lineage truncation: `localCheckpoint` by default (fast, but an
    // executor loss aborts the job); pass `checkpointDir` to use
    // RELIABLE checkpoints instead — same loop, recomputable from
    // durable storage, the right mode for a multi-hour 100 TB run.
    // Reliable checkpoint files accumulate per round unless
    // `spark.cleaner.referenceTracking.cleanCheckpoints=true`; point
    // `checkpointDir` at job-scoped storage the caller removes.
    val cp: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = pairs.sparkSession.sparkContext
        // setCheckpointDir qualifies the path and appends a session
        // UUID subdir, so "already ours" = the configured dir sits
        // under the requested one
        val requested = new org.apache.hadoop.fs.Path(dir).toUri.getPath
        sc.getCheckpointDir match {
          case None => sc.setCheckpointDir(dir)
          case Some(existing) if existing.contains(requested) => ()
          case Some(existing) => throw new IllegalArgumentException(
            s"connectedComponents: session checkpoint dir already set " +
              s"to '$existing'; refusing to redirect it to '$dir' " +
              "(a global SparkContext mutation would affect every " +
              "other reliable checkpoint in the session)")
        }
        df => df.checkpoint(eager = false)
      case None => df => df.localCheckpoint(eager = false)
    }
    val e = pairs.select(col(aCol).cast(LongType).as("src"),
      col(bCol).cast(LongType).as("dst"))
    if (smallGraphThreshold > 0) {
      val probe = e.take(smallGraphThreshold + 1)
      if (probe.length <= smallGraphThreshold)
        return localComponents(pairs.sparkSession, probe)
    }
    // symmetric closure; parallel edges collapse so each round's join
    // fan-out is bounded by the true degree
    // all checkpoints are lazy: the labelSum aggregate right after each
    // one doubles as the materializing action (under AQE the upstream
    // shuffle stages still run as their own jobs — see the note above)
    val edges = cp(
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())

    var labels = cp(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")))
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // (b) neighbor propagation: one shuffle join on the edge list
      val propagated = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("component"))
      // (c) pointer jumping: label(v) := label(label(v)). Labels form a
      // forest pointing at each vertex's current best-known minimum;
      // following two hops at once halves pointer chains every round.
      val jumped = labels.as("l")
        .join(labels.select(col("id").as("component"),
          col("component").as("jumped")), Seq("component"))
        .select(col("id"), col("jumped").as("component"))
      val next = cp(labels.union(propagated).union(jumped)
        .groupBy("id").agg(min("component").as("component")))
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels.unpersist()
      labels = next
      round += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: fixpoint not confirmed within $maxIter " +
        "rounds (the sum check needs one unchanged round past the " +
        "fixpoint) — raise maxIter")
    labels
  }

  /** Full-corpus canonical-id assignment: every document gets the id of
    * its cluster representative; documents in no near-dup pair are their
    * own representative. `docs` must carry a unique long `idCol`.
    * Downstream dedup is then `filter(idCol === component)` (keep
    * representatives) — the complete pairs → clusters → survivors path.
    */
  def assignComponents(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol, maxIter)
    docs.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component",
        coalesce(col("component"), col(idCol).cast(LongType)))
  }

  private def labelSum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("component").cast(DecimalType(38, 0))))
      .head().getDecimal(0)

  /** Driver union-find over an already-probed (threshold-bounded) edge
    * array: roots are linked toward the SMALLER id, so every root is
    * its component's minimum — the same canonicalization the
    * distributed fixpoint converges to (ClustersSpec pins the two
    * paths equal). Path compression keeps it effectively linear.
    */
  private def localComponents(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val a = row.getLong(0)
        val b = row.getLong(1)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(id => (id, find(id)))
      .toDF("id", "component")
  }
}
