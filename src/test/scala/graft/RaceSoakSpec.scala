package graft

import org.apache.spark.sql.functions._
import graft.sim.Ann
import graft.dedup.Dedup

/** Live fold-vs-probe soak (r14 verdict #6): the fold/probe race
  * windows are unit-driven one interleaving at a time elsewhere
  * (GraphDedupSpec) — this suite probes IN A LOOP on a second thread
  * while real folds run, ≥20 iterations per artifact, asserting every
  * completed probe returns exactly the answer the fold is contracted
  * to preserve — never an error, never a double-count (the union
  * reading a just-folded epoch on top of its main-table copy would
  * double every affected neighbor/verdict).
  *
  * Handshake: a FAIR ReentrantLock serializes the prober against the
  * phases that legitimately CHANGE the answer (landing a new epoch is
  * a multi-file commit with no atomicity contract; only the fold
  * carries the answer-preserving contract). The fold itself runs with
  * the lock RELEASED — that is the race under test. */
class RaceSoakSpec extends SparkSpec {
  import spark.implicits._

  private val iterations = 20

  /** Drive `fold` under a live prober: per iteration — with the
    * prober held off, `mutate(i)` lands new rows and the expected
    * answer is re-snapshotted; then the prober runs free while
    * `fold()` executes; finally the post-fold answer is re-checked
    * against the same snapshot. Collects every prober error and
    * every mismatched answer. */
  private def soak(probe: () => AnyRef, mutate: Int => Unit,
      fold: () => Unit): Unit = {
    val lock = new java.util.concurrent.locks.ReentrantLock(true)
    @volatile var stop = false
    @volatile var expected: AnyRef = null
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probes = new java.util.concurrent.atomic.AtomicLong(0)
    val prober = new Thread(() => {
      while (!stop) {
        lock.lock()
        try {
          if (!stop) {
            val got = probe()
            probes.incrementAndGet()
            val want = expected
            if (got != want)
              wrong.add(s"probe saw:\n$got\nexpected:\n$want")
          }
        } catch { case t: Throwable => errors.add(t) }
        finally lock.unlock()
      }
    }, "race-soak-prober")
    lock.lock() // hold the prober off until the first snapshot exists
    prober.start()
    try {
      for (i <- 1 to iterations) {
        // lock held: the answer may change now
        mutate(i)
        expected = probe()
        lock.unlock() // prober races THE FOLD
        try fold()
        finally lock.lock() // prober held off again
        val post = probe()
        if (post != expected)
          wrong.add(s"iteration $i: the fold changed the answer")
      }
    } finally {
      stop = true
      lock.unlock()
      prober.join(30000)
    }
    val firstErr = Option(errors.peek()).map { t =>
      val sw = new java.io.StringWriter
      t.printStackTrace(new java.io.PrintWriter(sw))
      sw.toString
    }.getOrElse("")
    assert(errors.isEmpty,
      s"${errors.size} probe(s) errored during folds; first:\n$firstErr")
    assert(wrong.isEmpty,
      s"${wrong.size} probe(s) returned a non-pre/post-fold answer; " +
        s"first:\n${Option(wrong.peek()).getOrElse("")}")
    // the soak is vacuous if the prober never actually overlapped a
    // fold — with ~probe-sized folds and 20 iterations this floor is
    // conservative
    assert(probes.get() >= iterations / 2,
      s"only ${probes.get()} probes completed across $iterations folds " +
        "— the soak never exercised the race")
  }

  test("ANN index: 20 folds under a live prober — every probe answers " +
      "pre-/post-fold exactly, no errors, no double-counts") {
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 128)
      .persist()
    val idx = scratch("race-ivf")
    Ann.writeIvfIndex(e, "vec_id", "embedding", idx, nlist = 4)
    val queries = e.filter(col("vec_id") % 16 === 0).persist()
    val pre = Ann.loadIndexGeometry(spark, idx, "RaceSoakSpec")
    def probe(): AnyRef =
      Ann.ivfIndexTopK(spark, idx, queries, "vec_id", "embedding",
          k = 5, nprobe = 4, excludeSelf = false)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    try {
      soak(
        probe = () => probe(),
        // each iteration streams 4 NEGATED corpus vectors under fresh
        // ids — cosine-opposite rows can never enter a top-5 (no new
        // ties, the expected answer stays exactly the pre-stream
        // ranking) while the fold still has real rows to move
        mutate = i => graft.streaming.EventStream.appendIvfBatch(
          e.filter(col("vec_id") < 4).select(
            (col("vec_id") + lit(1000000L) + lit(i) * 100L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")),
          idx, "vec_id", "embedding", "soak", i.toLong, pre),
        fold = () => { Ann.compactIvfIndex(spark, idx); () })
    } finally { e.unpersist(); queries.unpersist(); () }
  }

  test("ANN index: 20 takedown PURGES under a live prober — every " +
      "probe answers pre-/post-purge exactly, no errors; replaced " +
      "cell files ride the dead-file grace and collect next entry") {
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 128)
      .persist()
    // 24 sacrificial NEGATED twins built in: cosine-opposite rows can
    // never enter a top-5, so each iteration's takedown (one twin)
    // leaves the expected ranking untouched while the purge still has
    // real rows to erase and real cell files to replace under the
    // prober
    val sac = e.filter(col("vec_id") < 24).select(
      (col("vec_id") + 2000000L).as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    val idx = scratch("race-ivf-purge")
    Ann.writeIvfIndex(e.unionByName(sac), "vec_id", "embedding", idx,
      nlist = 4)
    val queries = e.filter(col("vec_id") % 16 === 0).persist()
    def probe(): AnyRef =
      Ann.ivfIndexTopK(spark, idx, queries, "vec_id", "embedding",
          k = 5, nprobe = 4, excludeSelf = false)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    try {
      soak(
        probe = () => probe(),
        mutate = i => Ann.deleteFromIvfIndex(
          Seq(2000000L + i - 1).toDF("vec_id"), "vec_id", idx),
        fold = () => { Ann.compactIvfIndex(spark, idx); () })
    } finally { e.unpersist(); queries.unpersist(); () }
    // the final purge's replaced files ride the grace: on disk, named
    // dead, collected (with the list cleared) by the next entry
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = Ann.readManifest(spark, idx).get.deadFiles
    assert(dead.nonEmpty,
      "the final purge should have left a dead-file grace list")
    dead.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/assigned/$rel")),
        s"dead file $rel must survive on disk through the grace")
    }
    val preAnswer = probe()
    Ann.compactIvfIndex(spark, idx)
    assert(Ann.readManifest(spark, idx).get.deadFiles.isEmpty,
      "the next maintenance entry must clear the dead-file list")
    dead.foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/assigned/$rel")),
        s"dead file $rel must be collected by the next entry")
    }
    assert(probe() == preAnswer,
      "grace collection changed the probe's answer")
  }

  test("doc store: 20 staged appends under a live reader — every read " +
      "is exactly the pre- or post-append view, never mixed or torn") {
    // the third artifact has no fold; its probe-concurrent mutation is
    // the STAGED APPEND (batch and stream sinks share the core). The
    // allowed-answers set is {pre, post} — post is computable upfront
    // (each batch adds exactly one doc carrying one fresh token), so
    // a reader seeing a half-renamed batch (docs landed, postings
    // not), a torn manifest, or a double-applied batch is caught.
    import graft.sources.{Sinks, Sources}
    val dir = scratch("race-doc")
    Sinks.indexed(
      Seq((1L, Seq("base", "alpha")), (2L, Seq("base", "beta")))
        .toDF("id", "toks"),
      dir, Some("id"), "toks")
    // ONE action over BOTH tables — two sequential counts would span
    // the append and read (docsPre, postingsPost) as a phantom mixed
    // state that is reader-side skew, not store-side tearing
    def probe(): (Long, Long) = {
      // ONE version bracket for both tables (indexedTables): separate
      // opens could straddle the append and read docs pre / postings
      // post — reader-side cross-table skew the store must not allow
      val Seq(d, p) =
        Sources.indexedTables(spark, dir, Seq("docs", "postings"))
      val m = d.select(lit("d").as("side"))
        .unionByName(p.filter(col("token").startsWith("tok"))
          .select(lit("p").as("side")))
        .groupBy("side").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (m.getOrElse("d", 0L), m.getOrElse("p", 0L))
    }
    val allowed =
      new java.util.concurrent.atomic.AtomicReference[Set[(Long, Long)]](
        Set(probe()))
    val lock = new java.util.concurrent.locks.ReentrantLock(true)
    @volatile var stop = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop) {
        lock.lock()
        try {
          if (!stop) {
            val got = probe()
            val ok = allowed.get()
            if (!ok.contains(got))
              wrong.add(s"read $got, allowed $ok")
          }
        } catch { case t: Throwable => errors.add(t) }
        finally lock.unlock()
      }
    }, "race-soak-doc-reader")
    lock.lock()
    reader.start()
    try {
      for (i <- 1 to 20) {
        val pre = probe()
        val post = (pre._1 + 1, pre._2 + 1)
        allowed.set(Set(pre, post))
        lock.unlock() // the reader races THE APPEND
        try Sinks.appendIndexedBatch(
          Seq((100L + i, Seq("base", s"tok$i"))).toDF("id", "toks"),
          dir, Some("id"), "toks")
        finally lock.lock()
        val after = probe()
        assert(after == post, s"iteration $i: append landed $after, " +
          s"expected $post")
        allowed.set(Set(post))
      }
    } finally {
      stop = true
      lock.unlock()
      reader.join(30000)
    }
    val firstErr = Option(errors.peek()).map { t =>
      val sw = new java.io.StringWriter
      t.printStackTrace(new java.io.PrintWriter(sw))
      sw.toString
    }.getOrElse("")
    assert(errors.isEmpty,
      s"${errors.size} read(s) errored during appends; first:\n$firstErr")
    assert(wrong.isEmpty,
      s"${wrong.size} read(s) saw a non-pre/post-append state; " +
        s"first:\n${Option(wrong.peek()).getOrElse("")}")
  }

  test("doc store: 20 takedown PURGES under a live reader — every " +
      "read answers pre-/post-purge exactly, no errors; replaced " +
      "files ride the dead-file grace and collect next entry") {
    import graft.sources.{Sinks, Sources}
    val dir = scratch("race-doc-purge")
    Sinks.indexed(
      (1L to 30L).map(i => (i, Seq("base", s"tok$i"))).toDF("id", "toks"),
      dir, Some("id"), "toks")
    // ONE action over BOTH tables (the append soak's rule): two
    // sequential counts would span the purge and read a phantom
    // mixed state that is reader-side skew, not store-side tearing
    def probe(): AnyRef = {
      val Seq(d, p) =
        Sources.indexedTables(spark, dir, Seq("docs", "postings"))
      val m = d.select(lit("d").as("side"))
        .unionByName(p.select(lit("p").as("side")))
        .groupBy("side").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (m.getOrElse("d", 0L), m.getOrElse("p", 0L))
    }
    soak(
      probe = () => probe(),
      // each iteration takes down one doc: the read's counts drop
      // immediately through the tombstone anti-join, and the purge
      // must preserve exactly that answer while rewriting the touched
      // files under the live reader
      mutate = i => Sinks.deleteFromIndexed(
        Seq(i.toLong).toDF("id"), "id", dir),
      fold = () => { Sinks.compactIndexed(spark, dir); () })
    // the final purge's replaced files ride the grace: on disk, named
    // dead, collected (with the list cleared) by the next entry
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = Sinks.store(spark, dir).manifest().get.deadFiles
    assert(dead.values.flatten.nonEmpty,
      "the final purge should have left a dead-file grace list")
    dead.foreach { case (table, names) =>
      names.foreach { n =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$table/$n")),
          s"dead file $table/$n must survive on disk through the grace")
      }
    }
    val preAnswer = probe()
    Sinks.compactIndexed(spark, dir)
    assert(Sinks.store(spark, dir).manifest().get.deadFiles.values.flatten.isEmpty,
      "the next maintenance entry must clear the dead-file list")
    dead.foreach { case (table, names) =>
      names.foreach { n =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$table/$n")),
          s"dead file $table/$n must be collected by the next entry")
      }
    }
    assert(probe() == preAnswer,
      "grace collection changed the read's answer")
  }

  test("band index: 20 takedown PURGES under a live prober — every " +
      "probe answers pre-/post-purge exactly, no errors; replaced " +
      "files ride the dead-file grace and collect one cycle later") {
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    // 8 distinct docs + 24 template clones: each iteration takes down
    // one clone (the probe's n_corpus_dups drops by one, visible
    // immediately through the tombstone anti-join) and the purge must
    // preserve exactly that answer while physically rewriting the
    // touched files under the prober
    val corpus = ((1L to 8L).map(i =>
        (i, s"corpus document number $i about census topic ${i % 3} " +
          "with a few more words of text")) ++
      (101L to 124L).map(i => (i, tpl))).toDF("doc_id", "text")
    val idx = scratch("race-band-purge")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", idx)
    val batch = Seq((900L, tpl),
      (901L, "a wholly novel probe document about trains and stations"))
      .toDF("doc_id", "text").persist()
    def probe(): AnyRef =
      Dedup.incrementalNearDupsIndexed(batch, idx, "doc_id", "text")
        .select("doc_id", "n_corpus_dups", "kept")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    try {
      soak(
        probe = () => probe(),
        mutate = i => Dedup.deleteFromNearDupIndex(
          Seq(100L + i).toDF("doc_id"), "doc_id", idx),
        fold = () => { Dedup.compactNearDupIndex(spark, idx); () })
    } finally { batch.unpersist(); () }
    // the last purge's replaced files are still on disk (grace), the
    // manifest names them dead, and the next maintenance entry — a
    // no-op compact — physically collects them and clears the list
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = Dedup.bandIndex(spark, idx).manifest().get.deadFiles
    assert(dead.values.flatten.nonEmpty,
      "the final purge should have left a dead-file grace list")
    dead.foreach { case (table, names) =>
      names.foreach { n =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$table/$n")),
          s"dead file $table/$n must survive on disk through the grace")
      }
    }
    val preCounts = probe()
    Dedup.compactNearDupIndex(spark, idx)
    assert(Dedup.bandIndex(spark, idx).manifest().get.deadFiles.values.flatten.isEmpty,
      "the next maintenance entry must clear the dead-file list")
    dead.foreach { case (table, names) =>
      names.foreach { n =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$table/$n")),
          s"dead file $table/$n must be collected by the next entry")
      }
    }
    assert(probe() == preCounts,
      "collection must not change the probe's answer")
  }

  test("band index: 20 folds under a live prober — every probe answers " +
      "pre-/post-fold exactly, no errors, no double-counts") {
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = (1L to 8L).map(i =>
        (i, s"corpus document number $i about census topic ${i % 3} " +
          "with a few more words of text")).toDF("doc_id", "text")
    val idx = scratch("race-band")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", idx)
    val batch = Seq((900L, tpl),
      (901L, "a wholly novel probe document about trains and stations"))
      .toDF("doc_id", "text").persist()
    def probe(): AnyRef =
      Dedup.incrementalNearDupsIndexed(batch, idx, "doc_id", "text")
        .select("doc_id", "n_corpus_dups", "kept")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val pre = (3, 64, 16)
    try {
      soak(
        probe = () => probe(),
        // each iteration streams one fresh template clone — it RAISES
        // the probe's n_corpus_dups (block-visible immediately through
        // the union), and the fold must neither lose it nor count it
        // twice
        mutate = i => Dedup.appendNearDupStreamBatch(
          Seq((2000L + i, tpl)).toDF("doc_id", "text"),
          idx, "doc_id", "text", "soak", i.toLong, pre),
        fold = () => { Dedup.compactNearDupIndex(spark, idx); () })
    } finally { batch.unpersist(); () }
  }
}
