package graft

import graft.graph.ConnectedComponents

/** Min-label connected components: the seed round folds round 1 into
  * the aggregate that materializes the edges, every later round is one
  * propagation action plus one narrow fixpoint scan, and the labels stay
  * the ones star contraction computes. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  test("star graph of diameter 2: one propagation action and one narrow scan per round") {
    // center 5, leaves 1..4 and 6..9: the seed labels the center 1, one
    // round spreads 1 to every leaf, one more confirms — 3 rounds
    val edges = ((1L to 4L) ++ (6L to 9L)).map(l => (5L, l)).toDF("src", "dst")
    var out: Map[Any, Any] = Map.empty
    val jobs = sparkWork { out = labels(ConnectedComponents.run(edges)) }.jobs
    assert(out == (1L to 9L).map(n => (n: Any) -> (1L: Any)).toMap)
    val rounds = 3
    val (sqlJobs, rddJobs) = jobs.partition(_._1.isDefined)
    // each round's propagation (the seed included) is ONE SQL action and
    // its fixpoint test ONE narrow single-stage RDD job; the final
    // collect is the only other action — a count up front or a second,
    // join-shaped fixpoint action per round fails here
    assert(sqlJobs.flatMap(_._1).distinct.size == rounds + 1,
      s"expected $rounds propagation actions + the collect, got $jobs")
    assert(rddJobs.size == rounds && rddJobs.forall(_._2 == 1),
      s"expected $rounds single-stage fixpoint scans, got $rddJobs")
    // one propagation action = at most three AQE jobs: the labels'
    // broadcast (or the edge cache's first materialization, in the seed),
    // the one regroup shuffle, the result stage
    val perAction = sqlJobs.groupBy(_._1).values.map(_.size)
    assert(perAction.forall(_ <= 3), s"a round grew a second shuffle: $jobs")
    assert(jobs.size <= 4 * rounds + 1, s"job count grew: ${jobs.size} ($jobs)")
  }

  test("maxIter = 1: only the seed round — edgeless graphs converge, any real edge fails loudly") {
    val loops = Seq((3L, 3L), (7L, 7L)).toDF("src", "dst")
    assert(labels(ConnectedComponents.run(loops, maxIter = 1)) ==
      Map[Any, Any](3L -> 3L, 7L -> 7L))
    val pair = Seq((1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.run(pair, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"), e.getMessage)
    assert(labels(ConnectedComponents.run(pair, maxIter = 2)) ==
      Map[Any, Any](1L -> 1L, 2L -> 1L))
  }

  test("a chain exactly maxIter nodes long converges in maxIter rounds, not one fewer") {
    // min at one end: node n learns label 1 after n-1 rounds; round n
    // confirms the fixpoint
    val n = 6
    val chain = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val out = labels(ConnectedComponents.run(chain, maxIter = n))
    assert(out == (1L to n.toLong).map(v => (v: Any) -> (1L: Any)).toMap)
    intercept[IllegalArgumentException] {
      ConnectedComponents.run(chain, maxIter = n - 1)
    }
  }

  test("self-loops, NULL ids and string ids") {
    // a self-loop alone is a singleton; beside an edge it changes nothing
    val loops = Seq((4L, 4L), (4L, 9L), (12L, 12L)).toDF("src", "dst")
    assert(labels(ConnectedComponents.run(loops)) ==
      Map[Any, Any](4L -> 4L, 9L -> 4L, 12L -> 12L))
    // a NULL id never equi-joins: it links nothing together (3 and 8
    // stay apart) and is labelled with the smallest label it touches
    val withNull = Seq[(java.lang.Long, java.lang.Long)](
      (3L, null), (null, 8L), (8L, 10L)).toDF("src", "dst")
    assert(labels(ConnectedComponents.run(withNull)) ==
      Map[Any, Any](3L -> 3L, 8L -> 8L, 10L -> 8L, (null: Any) -> 3L))
    // string ids compare lexicographically, min id labels the component
    val strs = Seq(("b", "c"), ("c", "a"), ("x", "y"), ("q", "q")).toDF("src", "dst")
    assert(labels(ConnectedComponents.run(strs)) ==
      Map[Any, Any]("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x", "q" -> "q"))
  }

  test("the edge plan is evaluated once: one pass over a lazy parquet edge list") {
    // reversed duplicates, a self-loop and NULL endpoints behind a file
    // scan: symmetrizing must read the file once, not once per direction
    val path = s"${scratch("cc-edges")}/edges"
    Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (3L, 2L), (2L, 3L), (5L, 5L), (6L, 7L),
      (7L, null), (null, 9L), (9L, 8L))
      .toDF("src", "dst").coalesce(1).write.parquet(path)
    val edges = spark.read.parquet(path)
    var out: Map[Any, Any] = Map.empty
    val work = sparkWork { out = labels(ConnectedComponents.run(edges)) }
    assert(work.rowsScanned(path) == 9,
      s"the edge file (9 rows) was not read exactly once: ${work.scanRows}")
    // the NULL node touches 7 (component 6) and 9 (component 8) and takes
    // the smaller label, linking nothing
    assert(out == Map[Any, Any](1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 8L, 9L -> 8L, (null: Any) -> 6L))
  }

  test("random graphs: min-label propagation agrees with star contraction") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val nodes = 40 + 30 * trial
      val edges = (1 to nodes).map(_ =>
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong)).toDF("src", "dst")
      val a = labels(ConnectedComponents.run(edges, maxIter = 200))
      val b = labels(Reference.starContraction(edges))
      assert(a == b, s"trial $trial: ${a.toSet.diff(b.toSet).take(5)} vs " +
        s"${b.toSet.diff(a.toSet).take(5)}")
    }
  }
}
