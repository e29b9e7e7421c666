package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Reference implementations the specs check `src/main` paths against,
  * and test-only helpers built on `src/main` kernels. They live in test
  * scope because no product surface calls them. */
object Reference {

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — O(log n) rounds
    * regardless of graph diameter, vs O(diameter) for min-label
    * propagation. The specs use it as the independent oracle for
    * [[graft.graph.ConnectedComponents.run]]: a different algorithm
    * that must reach the same min-id labels.
    *
    *  - large-star: every node links its strictly-larger neighbors to
    *    its minimum neighborhood member;
    *  - small-star: every node links its smaller-or-equal neighbors to
    *    that minimum.
    * At fixpoint each component is a star around its minimum id.
    */
  def starContraction(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val Array(srcC, dstC) = edges.columns.take(2)
    // the contraction only needs a TOTAL ORDER on ids, so string ids work
    // as-is (min/least compare lexicographically, same tie semantics as
    // ConnectedComponents.run). Numeric ids unify to long so mixed
    // int/long src/dst still union; casting STRINGS to long dies under
    // ANSI or silently nulls every id without it.
    val (srcT, dstT) = (edges.schema(srcC).dataType, edges.schema(dstC).dataType)
    val idCast: org.apache.spark.sql.Column => org.apache.spark.sql.Column = (srcT, dstT) match {
      case (_: org.apache.spark.sql.types.NumericType,
            _: org.apache.spark.sql.types.NumericType) => _.cast("long")
      case (a, b) if a == b => identity
      case _ => _.cast("string")
    }
    var e = edges.select(idCast(col(srcC)).as("u"), idCast(col(dstC)).as("v"))
      .union(edges.select(idCast(col(dstC)).as("u"), idCast(col(srcC)).as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    def minNbr(df: DataFrame): DataFrame =
      df.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: (v, m(u)) for v in N(u), v > u
      val mu = minNbr(e)
      val large = e.join(mu, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star on the large-star output
      val sym1 = large.union(large.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      val mu2 = minNbr(sym1)
      // small-star links the smaller-or-equal neighbors AND u itself to
      // the minimum (dropping the self link loses 2-node components)
      val small = sym1.join(mu2, "u")
        .filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mu2.select(col("u"), col("m").as("v")))
      val next = small.union(small.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(eager = true)
      val changed = next.except(e).limit(1).count() + e.except(next).limit(1).count()
      e.unpersist()
      e = next
      converged = changed == 0
      iter += 1
    }
    // stars: every node's label = min(neighbors ∪ self); isolated nodes
    // of the ORIGINAL edge set keep themselves (same id typing as above)
    val nodes = edges.select(idCast(col(srcC)).as("node"))
      .union(edges.select(idCast(col(dstC)).as("node"))).distinct()
    val labels = minNbr(e).select(col("u").as("node"), col("m").as("comp"))
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
  }

  /** Write `df` parquet, clustered by the z-order of `cols`
    * ([[graft.sources.Layout.zorderValue]]):
    * range-partition on the z-value (contiguous z-ranges per output
    * file → narrow per-file min/max in every interleaved dimension),
    * sort within partitions, drop the key, write. `numFiles` sizes the
    * output (pick total/targetMb at the call site); the z-value never
    * reaches disk — the LAYOUT is the artifact, queries stay unchanged
    * and prune via ordinary parquet stats. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int, bits: Int = 16): Unit =
    graft.sources.Layout.zorderValue(df, cols, bits)
      .repartitionByRange(numFiles, col("__zval"))
      .sortWithinPartitions("__zval")
      .drop("__zval")
      .write.mode("overwrite").parquet(path)
}
