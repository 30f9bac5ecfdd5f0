package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{SparkSuite, TableSpec}
import graft.streaming.{CdcPipeline, InMemoryUpsertSink, ReferenceSql}

/** The multi-partition KEYED replay mode (r12 VERDICT #1): Kafka's
  * murmur2 key placement, per-partition offset VECTORS, interleaved
  * delivery across partitions, and the flagship CDC pipeline proven
  * exact when only PER-KEY order holds — including a kill and restart
  * from a COMPOSITE offset. Also pins the dump cache's evict-stalest
  * policy (r12 VERDICT #8). */
class KeyedReplaySpec extends SparkSuite {

  private def write(dir: String, name: String, text: String): Unit =
    Files.write(Paths.get(dir, name), text.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  /** Console-dump format WITH keys: alternating key doc / value doc,
    * the shape of the reference's captured kafka-console-consumer dumps
    * (key docs carry no "op"; Debezium keys are the PK document,
    * register-ec.json:11-12). */
  private def keyed(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => s"$k\n$v" }.mkString("\n\n")

  // ——— placement + per-key order, batch read ———

  test("keyed batch read places records by key hash with gapless per-partition offsets") {
    val dir = tmpDir("keyed-batch")
    // 8 keys × 3 causally-ordered events each, single topic, P=2
    val pairs = for (i <- 0 until 8; n <- 0 until 3) yield
      (s"""{"payload":{"id":"k$i"}}""",
        s"""{"op":"u","id":"k$i","n":$n}""")
    write(dir, "t.docs.json", keyed(pairs))

    val rows = spark.read.format("graft-replay")
      .option("path", dir).option("topicPartitions", "2").load()
      .selectExpr("partition", "offset", "key",
        "CAST(get_json_object(value, '$.n') AS INT) AS n")
      .collect()
    assert(rows.length == 24)

    // same key → same partition, always
    val partsByKey = rows.groupBy(_.getAs[String]("key"))
      .view.mapValues(_.map(_.getAs[Int]("partition")).toSet).toMap
    assert(partsByKey.values.forall(_.size == 1),
      s"a key must stick to one partition: $partsByKey")
    // keys actually spread (murmur2 over 8 distinct keys, P=2)
    assert(rows.map(_.getAs[Int]("partition")).toSet.size == 2,
      "placement must use both partitions")

    // offsets: gapless 0..n-1 per partition
    rows.groupBy(_.getAs[Int]("partition")).foreach { case (p, rs) =>
      val offs = rs.map(_.getAs[Long]("offset")).sorted.toSeq
      assert(offs == (0L until rs.length).toSeq,
        s"partition $p offsets must be gapless from 0, got $offs")
    }

    // per-key order: each key's n sequence ascends with its offsets —
    // the only ordering guarantee keyed Kafka gives, and it must hold
    rows.groupBy(_.getAs[String]("key")).foreach { case (k, rs) =>
      val ns = rs.sortBy(_.getAs[Long]("offset")).map(_.getAs[Int]("n")).toSeq
      assert(ns == Seq(0, 1, 2), s"key $k delivered out of order: $ns")
    }
  }

  test("key-less records round-robin within their topic") {
    val dir = tmpDir("keyed-rr")
    write(dir, "t.events.jsonl",
      (0 until 6).map(i => s"""{"op":"c","n":$i}""").mkString("\n"))
    val rows = spark.read.format("graft-replay")
      .option("path", dir).option("topicPartitions", "3").load()
      .selectExpr("partition", "offset",
        "CAST(get_json_object(value, '$.n') AS INT) AS n")
      .collect().sortBy(_.getAs[Int]("n"))
    assert(rows.map(_.getAs[Int]("partition")).toSeq ==
      Seq(0, 1, 2, 0, 1, 2))
    assert(rows.map(_.getAs[Long]("offset")).toSeq ==
      Seq(0L, 0L, 0L, 1L, 1L, 1L))
  }

  test("proportional admission-control grant distributes by lag, deterministically") {
    val a = ("t", 0); val b = ("t", 1); val c = ("t", 2)
    // plenty of budget → everything granted
    assert(ReplaySource.grant(Seq(a -> 2L, b -> 3L), 10L) ==
      Map(a -> 2L, b -> 3L))
    // 6 rows over lags 6/3/0 at budget 3 → 2/1/0
    assert(ReplaySource.grant(Seq(a -> 6L, b -> 3L, c -> 0L), 3L) ==
      Map(a -> 2L, b -> 1L, c -> 0L))
    // remainder deals in tp order, never exceeding a partition's lag
    val g = ReplaySource.grant(Seq(a -> 1L, b -> 1L, c -> 1L), 2L)
    assert(g.values.sum == 2L && g.values.forall(_ <= 1L), s"got $g")
    assert(g == Map(a -> 1L, b -> 1L, c -> 0L))
  }

  // ——— interleaved rate-limited streaming with vector offsets ———

  test("rate-limited batches interleave partitions and checkpoint a composite vector") {
    val dir = tmpDir("keyed-interleave")
    val pairs = for (i <- 0 until 8; n <- 0 until 3) yield
      (s"""{"payload":{"id":"k$i"}}""",
        s"""{"op":"u","id":"k$i","n":$n}""")
    write(dir, "t.docs.json", keyed(pairs))

    val ckpt = tmpDir("keyed-interleave-ckpt")
    val batches =
      scala.collection.mutable.Buffer.empty[Seq[(Int, Long, String, Int)]]
    val q = spark.readStream.format("graft-replay")
      .option("path", dir).option("topicPartitions", "2")
      .option("maxRecordsPerBatch", "6")
      .load()
      .selectExpr("partition", "offset", "key",
        "CAST(get_json_object(value, '$.n') AS INT) AS n")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized {
          batches += b.collect().map(r => (r.getInt(0), r.getLong(1),
            r.getString(2), r.getInt(3))).toSeq
        }; ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val all = batches.synchronized(batches.filter(_.nonEmpty).toList)
    assert(all.map(_.size).sum == 24)
    // every full batch must draw from BOTH partitions — interleaved
    // delivery, not partition-at-a-time draining
    all.filter(_.size == 6).foreach { b =>
      assert(b.map(_._1).toSet.size == 2,
        s"rate-limited batch must interleave partitions: $b")
    }
    // per-partition offsets across batches: gapless and ascending
    all.flatten.groupBy(_._1).foreach { case (p, rs) =>
      assert(rs.map(_._2).sorted == (0L until rs.length).toList,
        s"partition $p offsets not gapless across batches")
    }
    // per-key causal order across the whole run
    all.zipWithIndex.flatMap { case (b, i) => b.map(r => (i, r)) }
      .groupBy(_._2._3).foreach { case (k, rs) =>
        val ns = rs.sortBy { case (i, r) => (i, r._2) }.map(_._2._4)
        assert(ns == List(0, 1, 2), s"key $k out of order: $ns")
      }
    // the checkpointed offset is the composite per-partition vector
    val offsetsDir = Paths.get(ckpt, "offsets")
    val last = Files.list(offsetsDir).iterator()
    var newest = -1L
    last.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.forall(_.isDigit)) newest = math.max(newest, n.toLong)
    }
    val content = new String(Files.readAllBytes(
      Paths.get(ckpt, "offsets", newest.toString)), "UTF-8")
    val vectorLine = content.linesIterator
      .find(l => l.startsWith("{") && l.contains("t.docs"))
      .getOrElse(fail(s"no vector offset line in:\n$content"))
    val v = ReplayVectorOffset.fromJson(vectorLine)
    assert(v.consumed == Map(("t.docs", 0) -> countIn(all, 0),
      ("t.docs", 1) -> countIn(all, 1)))
  }

  private def countIn(batches: List[Seq[(Int, Long, String, Int)]],
      p: Int): Long = batches.flatten.count(_._1 == p).toLong

  // ——— the flagship pipeline under per-key-only ordering ———

  private val ordersSchema = StructType(Seq(
    StructField("id", StringType), StructField("user_id", StringType),
    StructField("amount", DoubleType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType), StructField("status", StringType),
    StructField("channel", StringType)))
  private val usersSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("age", IntegerType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType)))
  private val sources = Seq(
    TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
    TableSpec("users", usersSchema, primaryKey = Seq("id")))

  private def orderEnv(op: String, id: String, user: String, amount: Double,
      status: String, day: String, before: String = null): String = {
    val img = (st: String) =>
      s"""{"id":"$id","user_id":"$user","amount":$amount,""" +
        s""""ctime":"${day}T00:00:00Z","utime":"${day}T00:00:00Z",""" +
        s""""status":"$st","channel":"wechat"}"""
    val b = if (op == "c") "null" else img(Option(before).getOrElse(status))
    val a = if (op == "d") "null" else img(status)
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":1612150000000}"""
  }
  private def userEnv(op: String, id: String, name: String, age: Int): String = {
    val img = s"""{"id":"$id","name":"$name","age":$age,""" +
      s""""ctime":"2021-01-01T00:00:00Z","utime":"2021-01-01T00:00:00Z"}"""
    val b = if (op == "c") "null" else img
    val a = if (op == "d") "null" else img
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":1612150000000}"""
  }
  private def pk(id: String): String = s"""{"payload":{"id":"$id"}}"""

  /** The ReplaySourceSpec scripted day, but in KEYED console format:
    * every envelope carries its Debezium PK key doc, so placement is by
    * key — creates, a payment, a cancellation (the retraction case), a
    * rename, a delete. All ts_ms are EQUAL: per-key resolution rides
    * entirely on the per-partition offset `seq`, the exact contract
    * under test. */
  private def stageKeyedDump(dir: String): Int = {
    write(dir, "shard1.crm.users.json", keyed(Seq(
      pk("u1") -> userEnv("c", "u1", "Alice", 30),
      pk("u2") -> userEnv("c", "u2", "Bob", 41),
      pk("u2") -> userEnv("u", "u2", "Robert", 41))))
    write(dir, "shard1.ec.orders.json", keyed(Seq(
      pk("o1") -> orderEnv("c", "o1", "u1", 100.0, "created", "2021-01-30"),
      pk("o2") -> orderEnv("c", "o2", "u1", 50.0, "created", "2021-01-31"),
      pk("o3") -> orderEnv("c", "o3", "u2", 70.0, "created", "2021-01-31"),
      pk("o1") -> orderEnv("u", "o1", "u1", 100.0, "payed", "2021-01-30",
        before = "created"),
      pk("o3") -> orderEnv("u", "o3", "u2", 70.0, "closed", "2021-01-31",
        before = "created"),
      pk("o2") -> orderEnv("d", "o2", "u1", 50.0, "created", "2021-01-31"))))
    9
  }

  private def replayStream(dir: String, maxPerBatch: Long) =
    KafkaCdc.toCdcInput(spark.readStream.format("graft-replay")
      .option("path", dir)
      .option("topicPartitions", "3")
      .option("maxRecordsPerBatch", maxPerBatch.toString)
      .load())

  private def sinkState(sink: InMemoryUpsertSink): Map[String, Map[String, Map[String, Any]]] =
    Map("order_view" -> sink.docs("order_view"),
      "user_order_stats_view" -> sink.docs("user_order_stats_view"))

  test("order_view exact under per-key-only ordering; composite-offset restart") {
    val dir = tmpDir("keyed-flagship")
    stageKeyedDump(dir)

    // — run A: uninterrupted through the keyed source —
    val sinkA = new InMemoryUpsertSink
    val pipeA = new CdcPipeline(spark, sources, tmpDir("keyed-stateA"),
      sinkA, ReferenceSql.views(spark, "order_view", "user_order_stats_view"))
    val qA = pipeA.start(replayStream(dir, Long.MaxValue),
      tmpDir("keyed-ckptA"))
    qA.processAllAvailable()
    qA.stop()
    val expected = sinkState(sinkA)
    assert(expected("order_view").keySet == Set("o1", "o3"),
      "o2 deleted; o1 payed and o3 closed remain in the unfiltered join view")
    assert(expected("user_order_stats_view").keySet == Set("u1|2021-01-30"))

    // — run B: 2 records per micro-batch, killed mid-stream —
    val ckptB = tmpDir("keyed-ckptB")
    val sinkB = new InMemoryUpsertSink
    val pipeB = new CdcPipeline(spark, sources, tmpDir("keyed-stateB"),
      sinkB, ReferenceSql.views(spark, "order_view", "user_order_stats_view"))
    val q1 = pipeB.start(replayStream(dir, 2), ckptB)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q1.recentProgress.length < 1 && System.nanoTime() < deadline)
      Thread.sleep(50)
    q1.stop()

    def newestOffsetFile(ckpt: String): Long = {
      val d = Paths.get(ckpt, "offsets")
      if (!Files.isDirectory(d)) return -1L
      var m = -1L
      Files.list(d).iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.forall(_.isDigit)) m = math.max(m, n.toLong)
      }
      m
    }
    val stoppedAt = newestOffsetFile(ckptB)
    assert(stoppedAt >= 0, "at least one batch must have been planned")
    assert(stoppedAt < 4, s"kill must land mid-stream (batch $stoppedAt)")

    // the offset the restart will resume from IS a composite vector
    // spanning more than one topic-partition — the r12 gap
    val content = new String(Files.readAllBytes(
      Paths.get(ckptB, "offsets", stoppedAt.toString)), "UTF-8")
    val vectorLine = content.linesIterator
      .find(l => l.startsWith("{") && l.contains("shard1"))
      .getOrElse(fail(s"no vector offset line in:\n$content"))
    val resumed = ReplayVectorOffset.fromJson(vectorLine).consumed
    assert(resumed.count(_._2 > 0) >= 2,
      s"composite restart must span ≥2 topic-partitions, got $resumed")

    // — restart from the composite offset: same checkpoint, same state —
    val q2 = pipeB.start(replayStream(dir, 2), ckptB)
    q2.processAllAvailable()
    q2.stop()
    assert(newestOffsetFile(ckptB) > stoppedAt,
      "restart must CONTINUE the offset log, not restart it")
    assert(sinkState(sinkB) == expected,
      "restarted run must converge to the uninterrupted run's sink state")
  }

  // ——— offset codec + cache policy ———

  test("vector offsets round-trip with sorted deterministic JSON") {
    val v = ReplayVectorOffset(Map(
      ("b.topic", 1) -> 7L, ("a.topic", 0) -> 3L, ("b.topic", 0) -> 0L))
    assert(v.json() == """{"a.topic":{"0":3},"b.topic":{"0":0,"1":7}}""")
    assert(ReplayVectorOffset.fromJson(v.json()) == v)
    assert(ReplayVectorOffset(Map.empty).json() == "{}")
    // mode-mismatch checkpoints fail loudly, not silently
    intercept[IllegalArgumentException] {
      ReplayVectorOffset.fromJson("42")
    }
  }

  test("dump cache evicts stalest entries, never a hot reader's dump") {
    val hot = tmpDir("cache-hot")
    write(hot, "h.t.jsonl", """{"op":"c","n":1}""")
    val churn = tmpDir("cache-churn")
    val before = ReplaySource.parses.get()
    assert(ReplaySource.load(hot).length == 1)
    // 20 dump VERSIONS churn through the cache (well past the cap)
    // while the hot dump keeps being read between each — it must stay
    // resident the whole time (the r12 wholesale clear() re-parsed it)
    (1 to 20).foreach { i =>
      write(churn, "c.t.jsonl",
        (0 until i).map(j => s"""{"op":"c","n":$j}""").mkString("\n"))
      assert(ReplaySource.load(churn).length == i)
      assert(ReplaySource.load(hot).length == 1)
    }
    assert(ReplaySource.parses.get() - before == 21,
      "hot dump must parse exactly once; each churn version once")
  }
}
