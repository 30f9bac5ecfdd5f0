package graft.streaming

import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

class ParquetKeyedTableSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("v", IntegerType)))

  test("bucketed layout: merge, delete, lookup prune to one bucket") {
    val t = new ParquetKeyedTable(spark, tmpDir("bucketed"), numBuckets = 4)
    t.merge(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "v"),
      Seq.empty[String].toDF("key"))
    assert(t.snapshot(schema).as[(String, Int)].collect().toSet ==
      Set(("a", 1), ("b", 2), ("c", 3)))

    t.merge(Seq(("a", 9)).toDF("key", "v"), Seq("b").toDF("key"))
    assert(t.snapshot(schema).as[(String, Int)].collect().toSet ==
      Set(("a", 9), ("c", 3)))

    val hit = t.lookup(schema, "a")
    assert(hit.as[(String, Int)].collect().toSeq == Seq(("a", 9)))
    // pruning is visible in the plan: only the key's bucket is scanned
    val scan = hit.queryExecution.executedPlan.toString
    assert(scan.contains("bucket"), s"expected bucket pruning in:\n$scan")

    t.delete(Seq("a").toDF("key"))
    assert(t.snapshot(schema).as[(String, Int)].collect().toSet ==
      Set(("c", 3)))
  }

  test("merge rewrites only touched buckets; untouched files carry forward") {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val root = tmpDir("pruned")
    val t = new ParquetKeyedTable(spark, root, numBuckets = 8)
    val keys = (0 until 64).map(i => (s"k$i", i))
    t.merge(keys.toDF("key", "v"), Seq.empty[String].toDF("key"))

    // relative path -> inode for every parquet file of a version
    def files(v: Int): Map[String, Long] = {
      val vd = java.nio.file.Paths.get(root, s"v$v")
      val s = java.nio.file.Files.walk(vd)
      try {
        val it = s.iterator()
        var m = Map.empty[String, Long]
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet"))
            m += vd.relativize(p).toString ->
              java.nio.file.Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
        }
        m
      } finally s.close()
    }

    val touchedBucket = spark.range(1)
      .select(pmod(hash(lit("k0")), lit(8)).cast("int")).head.getInt(0)
    val before = files(0)
    assert(before.keys.map(_.split('/').head).toSet.size > 1,
      "test needs data in more than one bucket")

    t.merge(Seq(("k0", 99)).toDF("key", "v"), Seq.empty[String].toDF("key"))
    val after = files(1)

    // untouched buckets: identical relative paths AND identical inodes
    // (hard links, not copies — the carry-forward is metadata-only)
    def untouched(m: Map[String, Long]) =
      m.filterNot(_._1.startsWith(s"bucket=$touchedBucket/"))
    assert(untouched(after) == untouched(before))
    // the touched bucket WAS rewritten (fresh files)
    val rewritten = after.filter(_._1.startsWith(s"bucket=$touchedBucket/"))
    assert(rewritten.nonEmpty)
    assert(rewritten.values.toSet.intersect(
      before.filter(_._1.startsWith(s"bucket=$touchedBucket/")).values.toSet).isEmpty)

    // and the merge is semantically correct
    val got = t.snapshot(schema).as[(String, Int)].collect().toMap
    assert(got("k0") == 99 && got.size == 64 && got("k63") == 63)

    // pruned delete: removing one key keeps every other bucket linked
    t.delete(Seq("k1").toDF("key"))
    val b1 = spark.range(1)
      .select(pmod(hash(lit("k1")), lit(8)).cast("int")).head.getInt(0)
    val afterDel = files(2)
    assert(afterDel.filterNot(_._1.startsWith(s"bucket=$b1/")) ==
      after.filterNot(_._1.startsWith(s"bucket=$b1/")))
    assert(t.snapshot(schema).count() == 63)
  }

  test("batchId commits: replayed merge skips, versionBefore pins pre-state") {
    val root = tmpDir("batchid")
    val t = new ParquetKeyedTable(spark, root, numBuckets = 4)

    // first-ever commit by batch 0: before it the table was empty
    t.merge(Seq(("a", 1)).toDF("key", "v"), Seq.empty[String].toDF("key"),
      batchId = Some(0L))
    assert(t.lastBatchId.contains(0L))
    assert(t.versionBefore(0L).isEmpty, "pre-state of the creating batch is empty")
    assert(t.snapshotAt(t.versionBefore(0L), schema).isEmpty)

    t.merge(Seq(("b", 2)).toDF("key", "v"), Seq.empty[String].toDF("key"),
      batchId = Some(1L))
    val v1 = t.version
    assert(t.lastBatchId.contains(1L))
    // pre-batch-1 view still readable (keep-two retention exists for this)
    assert(t.snapshotAt(t.versionBefore(1L), schema)
      .as[(String, Int)].collect().toSet == Set(("a", 1)))
    // a batch this table never saw: pre-state == current
    assert(t.versionBefore(7L) == t.version)
    // the replay pin: current version outside a stream
    assert(t.versionBefore(None) == t.version)
    assert(t.versionBefore(Some(1L)) == t.versionBefore(1L))

    // REPLAY of batch 1 (crash-redelivery): must be a no-op, even with
    // different (stale-recomputed) content
    t.merge(Seq(("b", 999)).toDF("key", "v"), Seq.empty[String].toDF("key"),
      batchId = Some(1L))
    assert(t.version == v1, "replayed batch must not commit a new version")
    assert(t.snapshot(schema).as[(String, Int)].collect().toSet ==
      Set(("a", 1), ("b", 2)))

    // a NEW batch still applies normally after the skip
    t.merge(Seq(("c", 3)).toDF("key", "v"), Seq.empty[String].toDF("key"),
      batchId = Some(2L))
    assert(t.snapshot(schema).count() == 3)

    // pointer hygiene: no temp file left behind by the atomic flip
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_CURRENT.tmp")))
  }

  test("BatchCtx.cache persists until close(), also when the batch failed before commit()") {
    for (failed <- Seq(false, true)) {
      val ctx = new BatchCtx(Some(0L), Set.empty, replay = false, Map.empty)
      val df = ctx.cache(Seq(("a", 1)).toDF("key", "v"))
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      if (!failed) ctx.commit()
      ctx.close()
      assert(df.storageLevel == StorageLevel.NONE)
    }
  }

  test("retention under delete-heavy churn: version count, file count " +
      "and footprint stay bounded by LIVE state, not stream length") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("churn")
    val t = new ParquetKeyedTable(spark, root, numBuckets = 4)

    def walk[T](f: Iterator[java.nio.file.Path] => T): T = {
      val s = Files.walk(Paths.get(root))
      try f(scala.jdk.CollectionConverters.IteratorHasAsScala(
        s.iterator()).asScala)
      finally s.close()
    }
    def versionDirs: Int = walk(_.count(p =>
      Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+")))
    def parquetFiles: Int = walk(_.count(
      _.getFileName.toString.endsWith(".parquet")))
    // DISTINCT inodes: hard-linked carry-forwards share storage, so the
    // honest footprint counts each physical file once
    def bytes: Long = walk(_.filter(
        _.getFileName.toString.endsWith(".parquet"))
      .map(p => (Files.getAttribute(p, "unix:ino"), Files.size(p)))
      .toMap.values.sum)

    // 50 churn batches: each upserts 20 keys then deletes them next
    // batch — stream length 1000 records, live state never exceeds 40
    var maxVersions = 0; var maxFiles = 0
    for (b <- 0 until 50) {
      val ups = (0 until 20).map(i => (s"k${b % 2}-$i", b)).toDF("key", "v")
      val dels = (0 until 20).map(i => s"k${(b + 1) % 2}-$i").toDF("key")
      t.merge(ups, dels, batchId = Some(b.toLong))
      maxVersions = math.max(maxVersions, versionDirs)
      maxFiles = math.max(maxFiles, parquetFiles)
    }
    // keep-two retention: never more than 2 version dirs on disk
    assert(maxVersions <= 2, s"versions grew to $maxVersions")
    // per version ≤ numBuckets part files (touched buckets rewrite as
    // one file each, untouched carry as links) → ≤ 2×numBuckets total
    // no matter how many batches ran
    assert(maxFiles <= 2 * 4, s"file count grew to $maxFiles")
    assert(t.snapshot(schema).count() == 20, "live state = last upserts")

    // delete EVERYTHING: the store must shrink to (near) zero, proving
    // footprint tracks live rows — parquet/footer overhead only
    t.delete((0 until 20).map(i => s"k1-$i").toDF("key"),
      batchId = Some(50L))
    assert(t.snapshot(schema).isEmpty)
    val emptyBytes = bytes
    assert(emptyBytes < 64 * 1024,
      s"emptied store still holds $emptyBytes bytes")
  }

  test("a widening upsert null-fills untouched hard-linked buckets; " +
      "reads merge no parquet footers") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = new ParquetKeyedTable(spark, tmpDir("widen"), numBuckets = 8)
    t.merge((0 until 64).map(i => (s"k$i", i)).toDF("key", "v"),
      Seq.empty[String].toDF("key"))
    // one key gains a column: only its bucket is rewritten, the other
    // buckets are hard links to files without `w`
    t.merge(Seq(("k0", 0, "wide")).toDF("key", "v", "w"),
      Seq.empty[String].toDF("key"))

    // jobs submitted while the read is built, in this thread's job group;
    // a marker job afterwards proves the listener has seen them all
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val snap = try {
      sc.setJobGroup("widen-read", "build the snapshot frame")
      val df = t.snapshot(schema)
      sc.setJobGroup("widen-marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("widen-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("widen-marker"))
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!groups.contains("widen-read"),
      "building a read must not launch a footer-merge job")

    assert(snap.columns.toSeq == Seq("key", "v", "w"))
    val rows = snap.as[(String, Int, Option[String])].collect()
    assert(rows.length == 64)
    assert(rows.filter(_._3.isDefined).toSeq == Seq(("k0", 0, Some("wide"))))
    // a pruned lookup in an untouched bucket sees the column as null too
    def bucket(k: String): Int = spark.range(1)
      .select(ParquetKeyedTable.bucketOf(org.apache.spark.sql.functions.lit(k), 8))
      .head.getInt(0)
    val other = (1 until 64).map(i => s"k$i").find(bucket(_) != bucket("k0")).get
    assert(t.lookup(schema, other).as[(String, Int, Option[String])]
      .collect().toSeq == Seq((other, other.drop(1).toInt, None)))

    // the shared-index sink relies on this: two views write different
    // fields of one document set, and every document reads back whole
    val sink = new ParquetUpsertSink(spark, tmpDir("widen-sink"), numBuckets = 8)
    sink.upsert("shared", (0 until 32).map(i => (s"d$i", i)).toDF("id", "a"))
    sink.upsert("shared", Seq(("d0", "x")).toDF("id", "b"))
    val docs = sink.docs("shared", StructType(Nil))
      .select("id", "a", "b").as[(String, Option[Int], Option[String])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(docs.size == 32)
    assert(docs("d0") == ((Some(0), Some("x"))))
    assert(docs("d31") == ((Some(31), None)))
  }
}
