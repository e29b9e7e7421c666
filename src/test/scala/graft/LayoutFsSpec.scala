package graft

import org.apache.hadoop.fs.Path
import graft.engine.LayoutFs
import scala.jdk.CollectionConverters._

/** The single-maintenance-writer marker primitive (r14 verdict #1):
  * the old check-then-create shape let two writers launched in the
  * same instant each pass the other's check before either marker
  * landed. [[LayoutFs.acquireMarker]] closes it with create-if-absent
  * plus a post-create re-check; these specs drive the exact
  * lands-between-check-and-create interleave deterministically (an
  * exists() wrapper plants the opposing marker inside the window) —
  * the artifact-level refusals ride the same primitive
  * (GraphDedupSpec drives them through the real append/compact
  * verbs on both index pairs). */
class LayoutFsSpec extends SparkSpec {

  private def rawFs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("acquireMarker backs out when the opposite marker lands between " +
      "the pre-check and the create") {
    val dir = scratch("marker-interleave")
    val raw = rawFs(dir)
    val own = new Path(s"$dir/_APPENDING")
    val opposite = new Path(s"$dir/_COMPACTING")
    // the racing writer's create wins INSIDE our check-to-create
    // window: the first exists(opposite) call (our pre-check) reports
    // "absent" but plants the marker before returning — exactly the
    // interleave the r14 verdict flagged
    val fs = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      private var first = true
      override def exists(p: Path): Boolean =
        if (first && p == opposite) {
          first = false
          raw.create(opposite, false).close()
          false
        } else super.exists(p)
    }
    val e = intercept[IllegalArgumentException] {
      LayoutFs.acquireMarker(fs, own, opposite,
        refuseOpposite = "OPPOSITE-WRITER-RUNNING",
        refuseOwn = "OWN-ALREADY-HELD")
    }
    assert(e.getMessage.contains("OPPOSITE-WRITER-RUNNING"), e.getMessage)
    // the back-out must not leave our marker wedging BOTH sides shut
    assert(!raw.exists(own), "the backed-out writer left its own marker")
    assert(raw.exists(opposite), "the winning writer's marker vanished")
    raw.delete(opposite, false)
  }

  test("acquireMarker is create-if-absent: a second same-verb writer " +
      "refuses while the first holds the marker") {
    val dir = scratch("marker-sameverb")
    val raw = rawFs(dir)
    val own = new Path(s"$dir/_APPENDING")
    val opposite = new Path(s"$dir/_COMPACTING")
    LayoutFs.acquireMarker(raw, own, opposite, "opp", "OWN-HELD")
    assert(raw.exists(own))
    // second acquisition of the SAME marker fails the atomic create
    // (the old overwrite=true create silently shared it, and the
    // first finisher deleted it out from under the second)
    val e = intercept[IllegalArgumentException] {
      LayoutFs.acquireMarker(raw, own, opposite, "opp", "OWN-HELD")
    }
    assert(e.getMessage.contains("OWN-HELD"), e.getMessage)
    assert(raw.exists(own), "the refused writer deleted the holder's marker")
    // release → re-acquire works
    raw.delete(own, false)
    LayoutFs.acquireMarker(raw, own, opposite, "opp", "OWN-HELD")
    assert(raw.exists(own))
    raw.delete(own, false)
  }

  test("acquireMarker pre-check refuses on a standing opposite marker " +
      "without landing its own") {
    val dir = scratch("marker-precheck")
    val raw = rawFs(dir)
    val own = new Path(s"$dir/_COMPACTING")
    val opposite = new Path(s"$dir/_APPENDING")
    raw.create(opposite, false).close()
    val e = intercept[IllegalArgumentException] {
      LayoutFs.acquireMarker(raw, own, opposite, "APPEND-RUNNING", "own")
    }
    assert(e.getMessage.contains("APPEND-RUNNING"), e.getMessage)
    assert(!raw.exists(own))
    raw.delete(opposite, false)
  }

  // ---- consistentSnapshot: the openers' version-stable bracket (r15)

  test("consistentSnapshot: stable version runs the body exactly once") {
    var bodies = 0
    val out = LayoutFs.consistentSnapshot("t", Some(7L)) {
      bodies += 1; "ok"
    }
    assert(out == "ok" && bodies == 1)
  }

  test("consistentSnapshot: a version moving across the body forces a " +
      "retry against the new state") {
    // version sequence as the bracket reads it: v1=1, v2=2 (moved →
    // retry), v1=2, v2=2 (stable) — the body must run twice and the
    // SECOND result must win
    val versions = Iterator(1L, 2L, 2L, 2L)
    var bodies = 0
    val out = LayoutFs.consistentSnapshot("t", Some(versions.next())) {
      bodies += 1; s"attempt-$bodies"
    }
    assert(out == "attempt-2" && bodies == 2,
      s"got $out after $bodies bodies")
  }

  test("consistentSnapshot: a vanished file inside the body retries " +
      "instead of failing the reader") {
    var bodies = 0
    val out = LayoutFs.consistentSnapshot("t", Some(3L)) {
      bodies += 1
      if (bodies == 1)
        throw new java.io.FileNotFoundException("gone mid-listing")
      "recovered"
    }
    assert(out == "recovered" && bodies == 2)
  }

  test("consistentSnapshot: with NO certificate the body's own loud " +
      "refusal propagates unmodified (nothing can be mid-swap)") {
    val e = intercept[IllegalStateException] {
      LayoutFs.consistentSnapshot("t", None) {
        throw new IllegalStateException("MY-PRECISE-REFUSAL")
      }
    }
    assert(e.getMessage == "MY-PRECISE-REFUSAL")
  }

  test("consistentSnapshot: continuous version churn fails loudly " +
      "after the attempt budget instead of spinning") {
    var v = 0L
    var bodies = 0
    val e = intercept[RuntimeException] {
      LayoutFs.consistentSnapshot("churny", { v += 1; Some(v) },
        attempts = 3) { bodies += 1; "never-stable" }
    }
    assert(e.getMessage.contains("churn"), e.getMessage)
    assert(bodies == 3, s"expected 3 attempts, got $bodies")
  }

  // ---- dead-file grace list serialization (r15)

  test("deadFilesJson round-trips through parseDeadFiles, empty and " +
      "multi-table alike; a JSON-smuggling name refuses loudly") {
    assert(LayoutFs.parseDeadFiles(
      s"""{"rows": 5, "dead_files": ${LayoutFs.deadFilesJson(Map.empty)}}""")
      == Map.empty)
    val dead = Map(
      "shingles" -> Seq("part-00001-abc.snappy.parquet",
        "part-00000-def.snappy.parquet"),
      "bands" -> Seq("__cell=3/part-00002-xyz.parquet"))
    val txt = s"""{"rows": 5, "version": 2, """ +
      s""""dead_files": ${LayoutFs.deadFilesJson(dead)}, "built_ms": 1}"""
    val back = LayoutFs.parseDeadFiles(txt)
    assert(back.view.mapValues(_.toSet).toMap ==
      dead.view.mapValues(_.toSet).toMap, back.toString)
    val e = intercept[IllegalArgumentException] {
      LayoutFs.deadFilesJson(Map("docs" -> Seq("""evil", "smuggled""")))
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
  }

  // ---- single owner: the lifecycle protocol lives in one module

  test("the lifecycle literals occur in src/main only in " +
      "engine/LayoutFs.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val owner = root.resolve("graft/engine/LayoutFs.scala")
    val literals = Seq("_MANIFEST.json", "_APPENDING", "_COMPACTING",
      "\"stream_marks\"", "\"dead_files\"")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .flatMap { p =>
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          literals.filter(txt.contains).map(l => s"$p: $l")
        }
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val own = new String(java.nio.file.Files.readAllBytes(owner), "UTF-8")
    literals.foreach(l => assert(own.contains(l), l))
  }
}
