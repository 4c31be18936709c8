package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed transitive closure (SURVEY.md §2.8 A1): the reference
  * materializes the full ancestor→descendant closure of the ontology
  * `is_a` DAG in one Python heap (`import_ontology.py:97-145`). Here it
  * is a driver-coordinated *semi-naive* fixpoint: each iteration joins
  * only the newest frontier against the edge set, so work per round is
  * O(|new pairs|), not O(|closure|). `localCheckpoint` truncates
  * lineage so the plan doesn't grow with depth; iterations converge in
  * O(graph depth) rounds.
  *
  * At scale: `edges` is usually dimension-sized (ontology ≈ 10^5 rows)
  * — it is broadcast, so every round is a broadcast join with no
  * shuffle of the growing closure.
  */
object Closure {

  /** Convergence bound of both fixpoints: rounds of the closure and BFS
    * layers of `minDepths`, far past the depth of any real ontology.
    */
  private val MaxIterations = 64

  /** The edge count bounds the *input*, not the closure — a dense or
    * deep graph can close to orders of magnitude more pairs than it has
    * edges. If the in-heap closure's pair set outgrows this cap it is
    * abandoned and the distributed path runs instead, so driver memory
    * is bounded by cap × pair size regardless of graph shape.
    */
  private val LocalPairCap = 4000000

  /** @param edges DataFrame with direct-edge columns (`parentCol`, `childCol`)
    * @param localThreshold edge sets at or below this row count are
    *   closed driver-side (one bounded collect + in-heap semi-naive,
    *   then re-parallelized). Ontologies are dimension-sized (~10^5
    *   edges), and the distributed fixpoint pays O(depth) rounds of
    *   job-scheduling latency that dwarf the actual work at that size;
    *   the probe is the collect itself, `limit(n+1)`, so a 100 TB
    *   edge table never scans past the cap. Set 0 to force the
    *   distributed path (the in-heap pair set is capped at
    *   `LocalPairCap`).
    * @return closure as (`ancestor`, `descendant`) — all transitive pairs
    */
  def transitiveClosure(
      edges: DataFrame,
      parentCol: String = "parent",
      childCol: String = "child",
      localThreshold: Int = 200000): DataFrame = {
    val e0 = edges.select(col(parentCol).as("parent"), col(childCol).as("child"))
    localEdges(e0, localThreshold).flatMap(localClosure(e0, _)) match {
      case Some(closed) => return closed
      case None => // too many edges, or the closure outgrew the pair cap
    }
    val e = broadcast(e0)

    val base = e0
      .select(col("parent").as("ancestor"), col("child").as("descendant"))
      .distinct()
      .localCheckpoint()
    // Accumulate checkpointed frontier frames; the anti-join target is
    // their (lazy) union — each frame is already materialized, so the
    // union is shallow and the whole closure is never re-materialized
    // per round (one job per iteration instead of three).
    var frames = List(base)
    var frontier = base
    var iter = 0
    var converged = false
    while (!converged && iter < MaxIterations) {
      val sofar = frames.reduce(_ union _)
      val next = frontier
        .join(e, frontier("descendant") === e("parent"))
        .select(frontier("ancestor"), e("child").as("descendant"))
        .distinct()
        .join(sofar, Seq("ancestor", "descendant"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) converged = true
      else {
        frames ::= next
        frontier = next
      }
      iter += 1
    }
    require(converged, s"transitiveClosure did not converge in $MaxIterations iterations")
    frames.reduce(_ union _)
  }

  /** The edges, when there are at most `localThreshold` of them: one
    * bounded `limit(n + 1)` collect is both the size probe and the
    * driver-side copy, so a 100 TB edge table is never read past the
    * cap. Coalesced to one partition first, it is one job (a limit over
    * several partitions runs a job per growing batch of them), and no
    * limit lands in the input's generated code, whose counter name is
    * new in every plan and would be compiled again on every load.
    */
  private def localEdges(e0: DataFrame, localThreshold: Int): Option[Array[(Any, Any)]] =
    Option.when(localThreshold > 0)(e0.coalesce(1).limit(localThreshold + 1).collect())
      .filter(_.length <= localThreshold)
      .map(_.map(r => (r.get(0), r.get(1))))

  /** Metadata-tier closure: the whole edge set fits comfortably on the
    * driver (caller-bounded), so run the same semi-naive fixpoint in
    * one heap — work is O(|closure| · avg out-degree), identical to
    * the distributed algorithm minus per-round scheduling. Types flow
    * through untouched (ids stay whatever the input columns were).
    */
  private def localClosure(e0: DataFrame, direct: Array[(Any, Any)]): Option[DataFrame] = {
    val spark = e0.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "ancestor", e0.schema("parent").dataType, nullable = true),
      org.apache.spark.sql.types.StructField(
        "descendant", e0.schema("child").dataType, nullable = true)))
    // null endpoints stay in the closure *base* (the distributed path's
    // seed is the raw edge set) but never extend a path: the equi-join
    // drops null keys under SQL semantics, while Scala map lookups
    // would happily match them — so exclude nulls from the adjacency
    // index and from frontier descent.
    val adj = direct.filter { case (p, c) => p != null && c != null }
      .groupBy(_._1).map { case (p, es) => p -> es.map(_._2) }
    val seen = scala.collection.mutable.HashSet.empty[(Any, Any)]
    seen ++= direct
    var frontier: Seq[(Any, Any)] = direct.toSeq
    var iter = 0
    while (frontier.nonEmpty && iter < MaxIterations) {
      if (seen.size > LocalPairCap) return None
      frontier = for {
        (a, d) <- frontier
        if d != null
        c <- adj.getOrElse(d, Array.empty[Any])
        if seen.add((a, c))
      } yield (a, c)
      iter += 1
    }
    if (seen.size > LocalPairCap) return None
    require(frontier.isEmpty,
      s"transitiveClosure did not converge in $MaxIterations iterations")
    val rows = seen.toSeq.map { case (a, d) =>
      org.apache.spark.sql.Row(a, d) }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(rows.size / 10000, 32))), schema))
  }

  /** A2 — per-ancestor distinct transitive descendant counts
    * (reference `import_ontology.py:141-145`).
    */
  def descendantCounts(closure: DataFrame): DataFrame =
    closure.groupBy("ancestor").agg(count("*").as("n_descendants"))

  /** Minimum hop depth of every node from the graph's roots (nodes
    * that never appear as a child) — BFS layer assignment. Same
    * size-tiering as the closure: dimension-sized edge sets BFS in one
    * heap, larger ones run the distributed frontier (each round one
    * equi-join + one anti-join, both keyed on the node; a node's FIRST
    * visit is its minimum depth, so no per-node min aggregation is
    * ever needed). Null endpoints defer to the distributed path.
    *
    * @return (node, depth) for every node reachable from a root
    */
  def minDepths(
      edges: DataFrame,
      parentCol: String = "parent",
      childCol: String = "child",
      localThreshold: Int = 200000): DataFrame = {
    val e0 = edges.select(col(parentCol).as("parent"), col(childCol).as("child"))
    localEdges(e0, localThreshold).flatMap(localMinDepths(e0, _)) match {
      case Some(d) => return d
      case None =>
    }
    val e = broadcast(e0)
    val roots = e0.select(col("parent").as("node")).distinct()
      .join(e0.select(col("child").as("node")).distinct(), Seq("node"), "left_anti")
    var seen = roots.withColumn("depth", lit(0L)).localCheckpoint()
    var frontier = seen
    var iter = 0
    while (iter < MaxIterations && !frontier.isEmpty) {
      val next = frontier
        .join(e, frontier("node") === e("parent"))
        .select(e("child").as("node"), (frontier("depth") + 1L).as("depth"))
        .groupBy("node").agg(min("depth").as("depth"))
        .join(seen.select("node"), Seq("node"), "left_anti")
        .localCheckpoint()
      frontier = next
      seen = seen.union(next).localCheckpoint()
      iter += 1
    }
    require(frontier.isEmpty, s"minDepths did not converge in $MaxIterations iterations")
    seen
  }

  private def localMinDepths(e0: DataFrame, pairs: Array[(Any, Any)]): Option[DataFrame] = {
    val spark = e0.sparkSession
    if (pairs.exists { case (p, c) => p == null || c == null }) return None
    val children = pairs.map(_._2).toSet
    val adj = pairs.groupBy(_._1).map { case (p, es) => p -> es.map(_._2) }
    val depth = scala.collection.mutable.HashMap.empty[Any, Long]
    var frontier: Seq[Any] =
      pairs.map(_._1).distinct.filterNot(children.contains).toSeq
    frontier.foreach(n => depth(n) = 0L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = for {
        n <- frontier
        c <- adj.getOrElse(n, Array.empty[Any])
        if !depth.contains(c)
      } yield { depth(c) = d; c }
    }
    val dt = e0.schema("parent").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", dt, nullable = true),
      org.apache.spark.sql.types.StructField("depth",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = depth.toSeq.map { case (n, dd) => org.apache.spark.sql.Row(n, dd) }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(rows.size / 10000, 32))), schema))
  }
}
