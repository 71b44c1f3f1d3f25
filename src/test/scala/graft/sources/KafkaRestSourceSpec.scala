package graft.sources

import graft.SparkSpec
import scala.collection.mutable

/** Live-socket consume tests for the REST-shaped Kafka source: a stub
  * broker over HTTP serves the wire contract; the source must read
  * incrementally, parallelize per partition, and resume from the
  * checkpoint after a restart without re-delivering.
  */
class KafkaRestSourceSpec extends SparkSpec {

  test("MiniJson slices records with nested JSON, escapes, null keys") {
    val body =
      """[ {"key":{"id":7},"value":{"id":7,"tags":["a","b"],"s":"x\"y"},"offset":0},
        |  {"key":null,"value":"plain A string","offset":1,"partition":3},
        |  {"key":"k2","value":{"nested":{"deep":[1,2,{"z":"}"}]}},"offset":2} ]""".stripMargin
    val rs = KafkaRestSource.records(body)
    assert(rs.map(_.offset) == Seq(0L, 1L, 2L))
    assert(rs(0).key.contains("""{"id":7}"""))
    assert(rs(0).value == """{"id":7,"tags":["a","b"],"s":"x\"y"}""")
    assert(rs(1).key.isEmpty && rs(1).value == "plain A string")
    assert(rs(1).partition.contains(3))
    assert(rs(2).value == """{"nested":{"deep":[1,2,{"z":"}"}]}}""")
  }

  private val fmt = classOf[KafkaRestSource].getName

  test("batch read covers all partitions with exact offsets") {
    val b = new StubBroker("t_batch", 2)
    try {
      b.append(0, """{"id":1}""", """{"id":1,"v":"a"}""")
      b.append(0, """{"id":2}""", """{"id":2,"v":"b"}""")
      b.append(1, "null", """{"id":3,"v":"c"}""")
      val df = spark.read.format(fmt)
        .option("rest.endpoint", b.endpoint).option("topic", "t_batch").load()
      val rows = df.collect().map(r =>
        (r.getAs[String]("key"), r.getAs[String]("value"),
          r.getAs[Int]("partition"), r.getAs[Long]("offset"))).toSet
      assert(rows == Set(
        ("""{"id":1}""", """{"id":1,"v":"a"}""", 0, 0L),
        ("""{"id":2}""", """{"id":2,"v":"b"}""", 0, 1L),
        (null, """{"id":3,"v":"c"}""", 1, 0L)))
    } finally b.stop()
  }

  test("streaming consume is incremental and resumes from the checkpoint") {
    val b = new StubBroker("t_stream", 1)
    val ckpt = java.nio.file.Files.createTempDirectory("krest_ckpt").toString
    // foreachBatch sink: supports checkpoint recovery (the memory sink
    // does not), so the restart below genuinely resumes offsets
    val got = mutable.Buffer[Long]()
    def startQuery() = spark.readStream.format(fmt)
      .option("rest.endpoint", b.endpoint).option("topic", "t_stream").load()
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val offs = batch.collect().map(_.getAs[Long]("offset"))
          got.synchronized { got ++= offs; () }
      }
      .option("checkpointLocation", ckpt).start()
    try {
      b.append(0, "null", """{"n":1}""")
      b.append(0, "null", """{"n":2}""")
      val q1 = startQuery()
      try {
        q1.processAllAvailable()
        assert(got.synchronized(got.sorted.toSeq) == Seq(0L, 1L))
        b.append(0, "null", """{"n":3}""")
        q1.processAllAvailable()
        // incremental: only the new record arrived in the second batch
        assert(got.synchronized(got.sorted.toSeq) == Seq(0L, 1L, 2L))
      } finally q1.stop()

      // records appended while the query is DOWN must be picked up on
      // restart from the checkpointed offset — exactly once, no replay
      b.append(0, "null", """{"n":4}""")
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        assert(got.synchronized(got.sorted.toSeq) == Seq(0L, 1L, 2L, 3L),
          "no dup, no loss across restart")
      } finally q2.stop()
    } finally b.stop()
  }

  test("streaming drain over 2 partitions survives a MID-STREAM " +
    "partition add: the new partition reads from its beginning, no " +
    "loss, no dup") {
    val b = new StubBroker("t_grow", 2)
    val ckpt = java.nio.file.Files.createTempDirectory("krest_grow").toString
    val got = mutable.Buffer[(Int, Long, String)]()
    try {
      b.append(0, "null", """{"p":0,"n":1}""")
      b.append(1, "null", """{"p":1,"n":1}""")
      val q = spark.readStream.format(fmt)
        .option("rest.endpoint", b.endpoint).option("topic", "t_grow").load()
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val rows = batch.collect().map(r => (r.getAs[Int]("partition"),
              r.getAs[Long]("offset"), r.getAs[String]("value")))
            got.synchronized { got ++= rows; () }
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(got.synchronized(got.size) == 2)
        // broker grows mid-stream; the partition ALREADY has a backlog
        // when the consumer first lists it — planInputPartitions must
        // read the unseen partition from its beginning_offset (the
        // from-beginning branch), while the old partitions continue
        // from their checkpointed offsets
        val p2 = b.addPartition()
        b.append(p2, "null", """{"p":2,"n":1}""")
        b.append(p2, "null", """{"p":2,"n":2}""")
        b.append(0, "null", """{"p":0,"n":2}""")
        q.processAllAvailable()
        val rows = got.synchronized(got.toSet)
        assert(rows == Set(
          (0, 0L, """{"p":0,"n":1}"""), (1, 0L, """{"p":1,"n":1}"""),
          (0, 1L, """{"p":0,"n":2}"""),
          (2, 0L, """{"p":2,"n":1}"""), (2, 1L, """{"p":2,"n":2}""")),
          rows.toString)
        assert(got.synchronized(got.size) == 5, "no duplicate delivery")
      } finally q.stop()
    } finally b.stop()
  }

  test("savepoint before a partition add, restore after: the new " +
    "partition reads from its beginning exactly once, old partitions " +
    "resume their saved offsets") {
    // the offset-map EVOLUTION case a real restore hits: the restored
    // offset log knows partitions {0, 1} but the broker now has {0, 1,
    // 2} — planInputPartitions must continue 0/1 from the SAVED
    // offsets and read 2 from its beginning, with no replay of
    // anything processed before the savepoint
    val b = new StubBroker("t_spgrow", 2)
    val ckpt = java.nio.file.Files.createTempDirectory("krest_sp1").toString
    val spRoot = java.nio.file.Files.createTempDirectory("krest_spr").toString
    val got = mutable.Buffer[(Int, Long, String)]()
    def startQuery(checkpoint: String) = spark.readStream.format(fmt)
      .option("rest.endpoint", b.endpoint).option("topic", "t_spgrow").load()
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val rows = batch.collect().map(r => (r.getAs[Int]("partition"),
            r.getAs[Long]("offset"), r.getAs[String]("value")))
          got.synchronized { got ++= rows; () }
      }
      .option("checkpointLocation", checkpoint).start()
    try {
      b.append(0, "null", """{"p":0,"n":1}""")
      b.append(1, "null", """{"p":1,"n":1}""")
      val q1 = startQuery(ckpt)
      try {
        q1.processAllAvailable()
        assert(got.synchronized(got.size) == 2)
      } finally q1.stop()

      // stop-with-savepoint while the topic still has 2 partitions
      val sp = graft.streaming.Savepoints.snapshot(ckpt, spRoot, "krest")

      // the topic grows and accumulates backlog while the job is DOWN
      val p2 = b.addPartition()
      b.append(p2, "null", """{"p":2,"n":1}""")
      b.append(p2, "null", """{"p":2,"n":2}""")
      b.append(0, "null", """{"p":0,"n":2}""")

      // restore into a FRESH checkpoint dir and restart the same plan
      val ckpt2 = java.nio.file.Files.createTempDirectory("krest_sp2")
        .toString
      graft.streaming.Savepoints.restore(sp, ckpt2)
      val q2 = startQuery(ckpt2)
      try {
        q2.processAllAvailable()
        val rows = got.synchronized(got.toSet)
        assert(rows == Set(
          (0, 0L, """{"p":0,"n":1}"""), (1, 0L, """{"p":1,"n":1}"""),
          (0, 1L, """{"p":0,"n":2}"""),
          (2, 0L, """{"p":2,"n":1}"""), (2, 1L, """{"p":2,"n":2}""")),
          rows.toString)
        assert(got.synchronized(got.size) == 5,
          "exactly-once across savepoint + partition add: " +
            got.synchronized(got.toString))
      } finally q2.stop()
    } finally b.stop()
  }

  test("latest-offset startup skips the backlog") {
    val b = new StubBroker("t_latest", 1)
    try {
      b.append(0, "null", """{"old":true}""")
      val ckpt = java.nio.file.Files.createTempDirectory("krest_l").toString
      val q = spark.readStream.format(fmt)
        .option("rest.endpoint", b.endpoint).option("topic", "t_latest")
        .option("scan.startup.mode", "latest-offset").load()
        .writeStream.format("memory").queryName("krest_latest")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("krest_latest").count() == 0)
        b.append(0, "null", """{"new":true}""")
        q.processAllAvailable()
        val vals = spark.table("krest_latest").collect()
          .map(_.getAs[String]("value")).toSeq
        assert(vals == Seq("""{"new":true}"""))
      } finally q.stop()
    } finally b.stop()
  }

  test("fetch paging bounds request size") {
    val b = new StubBroker("t_page", 1)
    try {
      (1 to 10).foreach(i => b.append(0, "null", s"""{"i":$i}"""))
      val df = spark.read.format(fmt)
        .option("rest.endpoint", b.endpoint).option("topic", "t_page")
        .option("fetch.count", "3").load()
      assert(df.count() == 10)
      assert(b.fetches >= 4, "10 records at fetch.count=3 needs >= 4 GETs")
    } finally b.stop()
  }

  test("produce wire fidelity: recordsBody -> produceRecords -> fetch " +
    "round-trips adversarial string payloads byte-exactly") {
    // property-style sweep over nasty characters: the sink's envelope
    // encoder, the broker's produce parser, the log's fetch format and
    // the consume parser must agree on escaping end-to-end — a slice
    // or unescape bug shows up as a changed payload
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nasty = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf('"', '\\', '\n', '\t', '{', '}', '[', ']', ',', ':',
        'é', '世'))).map(_.mkString.take(24))
    val cases = (1 to 60).map { i =>
      val s = nasty.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val body = graft.sqlgate.KafkaRest.recordsBody(
        Seq("k", "v"), Seq("k"),
        Iterator(org.apache.spark.sql.Row(i.toLong, s)))
      // the produce parser must slice exactly the key/value texts the
      // encoder emitted
      val Seq((kTxt, vTxt)) = StubBroker.produceRecords(body)
      assert(kTxt == s"""{"k":$i}""", s"seed $i: key slice $kTxt")
      // the fetch format wraps the same slices; the consume parser's
      // record must carry them verbatim (objects stay raw text)
      val fetch = s"""[{"key":$kTxt,"value":$vTxt,"offset":0}]"""
      val rec = KafkaRestSource.records(fetch).head
      assert(rec.key.contains(kTxt) && rec.value == vTxt,
        s"seed $i: fetch round trip changed the payload for '$s'")
      (i.toLong, s, vTxt)
    }
    // all 60 envelopes decode back through Spark's own JSON reader in
    // ONE batched job — the gate's decode path, without paying 60
    // separate job launches
    val decoded = spark.read
      .schema("after struct<k bigint, v string>")
      .json(spark.createDataset(cases.map(_._3))(
        org.apache.spark.sql.Encoders.STRING))
      .selectExpr("after.k", "after.v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (i, s, _) =>
      assert(decoded(i) == s, s"seed $i: from_json decode changed '$s'")
    }
  }

  test("a 'fetch.count' below 1 is refused when the scan is planned, " +
    "under either 'fail.on.data.loss'") {
    // a count of 0 never advances a read: with 'fail.on.data.loss' =
    // 'false' the reader fetched empty pages forever, with 'true' it
    // failed with a misleading "offsets regressed"
    val b = new StubBroker("t_fetch_count", 1)
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causes(x.getCause))
    def namesOption(t: Throwable) =
      causes(t).exists(_.contains("'fetch.count' must be a whole number >= 1"))
    try {
      b.append(0, "null", """{"n":1}""")
      for (loss <- Seq("true", "false"); count <- Seq("0", "-2")) {
        val batch = intercept[Exception] {
          spark.read.format(fmt).option("rest.endpoint", b.endpoint)
            .option("topic", "t_fetch_count").option("fetch.count", count)
            .option("fail.on.data.loss", loss).load().collect()
        }
        assert(namesOption(batch), s"batch, loss=$loss count=$count: $batch")
        val ckpt = java.nio.file.Files.createTempDirectory("krest_fc").toString
        val q = spark.readStream.format(fmt).option("rest.endpoint", b.endpoint)
          .option("topic", "t_fetch_count").option("fetch.count", count)
          .option("fail.on.data.loss", loss).load()
          .writeStream.foreachBatch {
            (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => ()
          }
          .option("checkpointLocation", ckpt).start()
        try {
          val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
            q.awaitTermination(60000))
          assert(namesOption(e), s"stream, loss=$loss count=$count: $e")
        } finally q.stop()
      }
    } finally b.stop()
  }
}
