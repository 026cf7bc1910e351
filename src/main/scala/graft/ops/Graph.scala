package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline: near-dup PAIRS
  * (d2/d3/d5/e3) become CLUSTERS, and each cluster elects one canonical
  * document to keep — the step between candidate generation and the actual
  * corpus prune in a large-scale training-data dedup.
  */
object Graph {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Convergence telemetry of one `connectedComponents` run: contraction
    * rounds (phase 1) and pointer-jump rounds (phase 2). */
  final case class CcRounds(contract: Int, jump: Int)

  /** Rounds of the most recent `connectedComponents` call in this JVM —
    * probe tooling reads this right after the action that ran the rounds
    * (`Probe scale`'s cc_live row), so a scale-up slowdown is adjudicable as
    * algorithmic (round count grew) vs memory-bound (rounds flat, time
    * grew). Driver-side telemetry only; never consulted by query plans.
    */
  private val lastRoundsRef =
    new java.util.concurrent.atomic.AtomicReference[Option[CcRounds]](None)
  def lastRounds: Option[CcRounds] = lastRoundsRef.get()

  /** Connected components by min-label propagation with pointer jumping:
    * every node starts labeled with its own id, and each round every node
    * takes the minimum of (its label, its neighbors' labels, its LABEL'S
    * label). The last term is the pointer-jumping/path-halving step —
    * label chains collapse geometrically, so convergence takes
    * O(log diameter) rounds instead of the O(diameter) of plain hash-min
    * (a transitive near-dup chain of 300 docs converges in ~8 rounds, not
    * ~300). Every round is shuffle-joins plus a partial-aggregating
    * groupBy — no driver-side graph state, no collect — the same shape as
    * the large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond").
    *
    * Lineage is truncated every round (iterative plans otherwise grow
    * unboundedly and re-execute from the source). With `checkpointDir`
    * unset that truncation is `localCheckpoint` — blocks live on executor
    * storage, which is fine single-JVM but dies with an executor. On a
    * real cluster pass `checkpointDir` (HDFS/S3): rounds then cut lineage
    * with reliable `checkpoint`, so a multi-hour 100 TB dedup survives
    * executor loss mid-iteration instead of failing the whole job.
    *
    * @param nodes one row per node
    * @param idCol node id column in `nodes` (any orderable type)
    * @param edges undirected edge list; endpoints must appear in `nodes`
    * @param maxIter round budget for each of the two phases
    * @param checkpointDir reliable checkpoint directory; None = local
    * @return (idCol, cluster_id): cluster_id = min node id reachable
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: Column, dstCol: Column,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    // Only claim the session-global checkpoint dir if nobody has set one:
    // silently repointing it would redirect every other checkpointing
    // component in the shared session. If one is already set, reliable
    // rounds go there — equally durable.
    val sc = nodes.sparkSession.sparkContext
    checkpointDir.foreach { d =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
      else if (!sc.getCheckpointDir.exists(_.contains(d)))
        // The redirect is deliberate (see above) but must not be silent: a
        // caller passing a durable HDFS dir while a test pinned a local
        // /tmp dir would otherwise get non-durable checkpoints unnoticed.
        log.warn(s"connectedComponents: requested checkpointDir '$d' " +
          s"ignored — session already checkpoints to " +
          s"'${sc.getCheckpointDir.get}'")
    }
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        // persist-then-checkpoint: a reliable checkpoint runs a SECOND job
        // to write the rdd-* files, recomputing the whole round from
        // lineage unless the rows are cached — persist makes the write
        // read from memory, then the blocks are released (the checkpoint
        // files are the durable copy).
        val cached = df.persist()
        val out = cached.checkpoint()
        cached.unpersist()
        out
      } else df.localCheckpoint()
    val sym = edges.select(srcCol.as("a"), dstCol.as("b"))
      .union(edges.select(dstCol.as("a"), srcCol.as("b")))
      .persist()
    try {
      // Only nodes that touch an edge can ever change label: iterate over
      // those, and union the untouched singletons back in at the end. In a
      // near-dup graph duplicates are a small fraction of the corpus, so
      // this shrinks every round's join and checkpoint by 10-100x.
      //
      // Round 0 is folded into initialization: label(n) = min(n, min
      // neighbor) comes from ONE groupBy over the symmetric edge list —
      // the same progress as a full propagate-join round at a fraction of
      // its shuffles, and the groupBy keys double as the edge-touching
      // node set (sym holds both directions, so grouping by `a` covers
      // every such node). Near-dup cliques collapse onto their min node
      // here, before the first join round ever runs.
      val labels0 = sym.groupBy(col("a").as("n"))
        .agg(min(col("b")).as("nb"))
        .select(col("n"), least(col("n"), col("nb")).as("lbl"))
      // Live edge list, re-expressed over current labels each round.
      // Contraction is what keeps late rounds cheap: an edge whose two
      // endpoints already share a label disappears, so the per-round
      // neighbor-min join shrinks geometrically while labels converge.
      def contractPlan(edges: DataFrame, lbls: DataFrame): DataFrame = {
        val la = lbls.select(col("n").as("a"), col("lbl").as("la"))
        val lb = lbls.select(col("n").as("b"), col("lbl").as("lb"))
        edges.join(la, "a").join(lb, "b")
          .where(col("la") =!= col("lb"))
          .select(col("la").as("a"), col("lb").as("b"))
          .distinct()
      }
      // Each round materializes labels AND live edges in ONE action: the
      // two results ride a single truncated tagged union (side 0 = label
      // rows, side 1 = live edges re-keyed to the same column names), so
      // one job replaces the old two (labels checkpoint, then contract
      // checkpoint) plus the separate emptiness job. The union's branches
      // are independent subtrees of one plan — their stages schedule
      // concurrently, and the label subplan the contraction re-references
      // is deduplicated by exchange reuse — while the convergence check
      // becomes a filter scan over blocks the round already wrote. Both
      // sides truncate together, so the label lineage still resets every
      // round (its plan references itself twice per round — untruncated it
      // doubles per round) and a reliable-checkpoint run keeps one durable
      // cut per round instead of two.
      def roundMaterialize(newLabels: DataFrame, newLive: DataFrame)
          : (DataFrame, DataFrame, Boolean) = {
        val tagged = truncate(
          newLabels.select(lit(0).as("side"), col("n"), col("lbl"))
            .unionByName(newLive.select(
              lit(1).as("side"), col("a").as("n"), col("b").as("lbl"))))
        (tagged.where(col("side") === 0).select(col("n"), col("lbl")),
          tagged.where(col("side") === 1)
            .select(col("n").as("a"), col("lbl").as("b")),
          tagged.where(col("side") === 1).isEmpty)
      }
      var (labels, live, converged) =
        roundMaterialize(labels0, contractPlan(sym, labels0))
      val inEdges = labels.select(col("n"))
      var iter = 0
      while (!converged && iter < maxIter) {
        // One join + one groupBy computes BOTH propagation terms: the
        // pointer jump (my label's label — path halving, so label chains
        // collapse in O(log diameter) rounds) is just label propagation
        // along the pointer edge lbl(n) -> n, so appending those edges to
        // the live set lets the single neighbor-min aggregate deliver
        // min(neighbor labels, label's label) at once — two fewer shuffles
        // per round than separate neighbor and jump joins. Every label
        // value is itself a node id in `labels` (inductively: labels start
        // at min(self, a neighbor) and every update takes a min over
        // existing label values), so pointer edges always find their
        // source's label row. The left join keeps isolated-but-unconverged
        // nodes (none exist — every node has a pointer edge — but the
        // coalesce documents the intent).
        val aug = live.unionByName(
          labels.select(col("lbl").as("a"), col("n").as("b")))
        val fromNeighbors = aug.join(labels, aug("a") === labels("n"))
          .groupBy(col("b").as("n2")).agg(min(col("lbl")).as("nlbl"))
        val newLabels = labels
          .join(fromNeighbors, labels("n") === col("n2"), "left")
          .select(col("n"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        // Phase-1 exit = the contracted edge list is empty. An edge dies
        // exactly when its endpoints share a label, and a death merges the
        // two endpoints' pointer families (later updates only re-point a
        // node INTO the chain of its current label, so merged families never
        // split). An empty live set therefore means one pointer family per
        // component, rooted at the component min (the min node's label
        // starts at itself and least() can never raise it). No separate
        // changed-label scan per round: the emptiness check reads the
        // blocks the round's one materializing action just wrote.
        val (l2, e2, done) =
          roundMaterialize(newLabels, contractPlan(live, newLabels))
        labels = l2; live = e2; converged = done
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      // Phase 2 — collapse leftover pointer chains (nodes whose label
      // improved on the last contraction rounds without their dependents
      // hearing about it). Jump-only rounds: no edge joins, one label
      // self-join per round, O(log chain length) rounds. l(lbl) <= lbl
      // always, so the jump alone is the new label.
      // Phase 2 gets its OWN round budget: sharing phase 1's counter would
      // make a graph that contracts in exactly maxIter rounds throw here
      // spuriously (the loop must run at least once just to observe
      // stability), and near-budget graphs would be left too few jump
      // rounds to collapse long chains.
      var stable = false
      var jumps = 0
      while (!stable && jumps < maxIter) {
        val merged = labels.as("l1").join(labels.as("l2"),
            col("l1.lbl") === col("l2.n"))
          .select(col("l1.n").as("n"), col("l1.lbl").as("lbl"),
            col("l2.lbl").as("jlbl"))
          .transform(truncate)
        stable = merged.where(col("jlbl") < col("lbl")).isEmpty
        labels = merged.select(col("n"), col("jlbl").as("lbl"))
        jumps += 1
      }
      require(stable, s"connectedComponents chains did not collapse in $maxIter rounds")
      lastRoundsRef.set(Some(CcRounds(iter, jumps)))
      log.info(s"connectedComponents converged: $iter contraction rounds, $jumps jump rounds")
      val singletons = nodes.select(col(idCol).as("n"))
        .join(inEdges, Seq("n"), "left_anti")
        .select(col("n"), col("n").as("lbl"))
      labels.unionByName(singletons)
        .select(col("n").as(idCol), col("lbl").as("cluster_id"))
    } finally { sym.unpersist(); () }
  }
}
