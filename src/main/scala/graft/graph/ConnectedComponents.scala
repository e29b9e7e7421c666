package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an edge list — the engine behind the
  * reference's `clique` operator (/root/reference/code/recipes.py:1989-2062,
  * which builds a NetworkX graph per chunk and labels components).
  *
  * We implement the intended GLOBAL semantics (SURVEY.md §4) with an
  * iterative DataFrame min-label propagation:
  *   label(v) ← min(label(v), min over neighbors u of label(u))
  * until fixpoint. Component id = the minimum vertex id in the component —
  * deterministic, unlike the reference's per-run random uuid
  * (code/recipes.py:2040-2048), and therefore oracle-checkable.
  *
  * Shape: the symmetrized edge list is built in ONE pass over the edges
  * (each row emits both directions), clustered on its source once and
  * persisted, so the plan behind `edges` (a scan, a pair join) runs once.
  * Round 1 is the SEED: the aggregate that materializes the edges
  * already computes min(self, neighbours), so no round starts from
  * identity labels. Every later round is ONE propagation action — the
  * labels meet the edges on the edges' own clustering key, the
  * neighbour labels regroup on the node (one shuffle) — that carries the
  * old label beside the new one and localCheckpoints the result; the
  * fixpoint test is then a narrow scan of that checkpoint for a changed
  * row, not a second join. Labels settle within diameter-many rounds
  * (one more confirms the fixpoint), and entity-resolution "clique"
  * graphs are shallow — near-dup clusters have tiny diameter, so 3-6
  * rounds in practice. A graph deeper than `maxIter` rounds fails
  * loudly rather than returning split components.
  */
object ConnectedComponents {

  /** @param edges   two-column DataFrame (src, dst) — any numeric/string ids
    * @param maxIter rounds allowed, the seed round included; a graph whose
    *                labels still change in round `maxIter` fails loudly
    * @return DataFrame (node, component) where component = min node id of
    *         the component (same type as the ids)
    */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    require(maxIter >= 1, s"maxIter must be at least 1 (the seed round), got $maxIter")
    val Array(srcC, dstC) = edges.columns.take(2)
    // symmetrize + distinct once, clustered on src: the seed aggregate
    // reads it in place, and every round joins the labels on that key.
    // Each edge row emits both directions, so `edges` is read in ONE
    // pass: a union of two projections would plan, and run, the whole
    // edge pipeline (a scan, the minhash pair join) twice
    val sym = edges
      .select(explode(array(
        struct(col(srcC).as("src"), col(dstC).as("dst")),
        struct(col(dstC).as("src"), col(srcC).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // round 1 (seed): min(self, neighbours); the old label is the node
    // itself, so the seed "changed" a node iff it has a smaller neighbour
    var labels = sym.groupBy("src")
      .agg(least(col("src"), min("dst")).as("comp"))
      .select(col("src").as("node"), col("comp"), col("src").as("old"))
      .localCheckpoint(eager = true)
    var converged = unchanged(labels)
    var iter = 1
    val noOld = lit(null).cast(labels.schema("old").dataType)
    while (!converged && iter < maxIter) {
      // propagate: each node takes min(own, neighbors') label. sym is
      // symmetric, so joining on src and emitting dst reaches the same
      // (node, neighbour label) rows as joining on dst — and src is the
      // key the persisted edges are clustered on, so only labels move
      labels = sym.join(labels, sym("src") === labels("node"))
        .select(sym("dst").as("node"), labels("comp"), noOld.as("old"))
        .union(labels.select(col("node"), col("comp"), col("comp").as("old")))
        .groupBy("node").agg(min("comp").as("comp"), max("old").as("old"))
        .localCheckpoint(eager = true)
      converged = unchanged(labels)
      iter += 1
    }
    sym.unpersist()
    // fail LOUD on non-convergence: partial labels would silently split
    // one component into several (min-label moves one hop per round, so
    // diameter >= maxIter graphs need a larger maxIter)
    require(converged,
      s"connected components did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter; pass a larger maxIter")
    labels.select("node", "comp")
  }

  /** The fixpoint test: one narrow job over the round's checkpoint that
    * stops each partition at its first changed label. A NULL node never
    * equi-joins its neighbours, so its label is not part of the fixpoint
    * (it follows theirs). */
  private def unchanged(labels: DataFrame): Boolean =
    !labels.filter(col("node").isNotNull && col("comp") =!= col("old"))
      .queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.hasNext))
      .collect().contains(true)

  /** The `clique` operator contract: label each edge row with
    * graph_clique_id (component id) and graph_clique_size
    * (code/recipes.py:2040-2055), joined back on the first node column.
    * `compute` adds per-node metric columns (degree, pagerank,
    * triangles, clustering, closeness, square_clustering, eigenvector —
    * recipes.py:2003-2034), also joined on the first node column. */
  def clique(df: DataFrame, src: String, dst: String,
      compute: Seq[String] = Nil): DataFrame = {
    val comps = run(df.select(col(src), col(dst)))
    val sizes = comps.groupBy("comp").agg(count("*").as("graph_clique_size"))
    val base = df
      .join(comps.withColumnRenamed("node", src).withColumnRenamed("comp", "graph_clique_id"), Seq(src), "left")
      .join(sizes.withColumnRenamed("comp", "graph_clique_id"), Seq("graph_clique_id"), "left")
    if (compute.isEmpty) base
    else base.join(
      graft.graph.GraphMetrics.metrics(df.select(col(src), col(dst)), compute)
        .withColumnRenamed("node", src),
      Seq(src), "left")
  }
}
