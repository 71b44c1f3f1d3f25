package graft.sqlgate

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.sql.DriverManager

/** The reference's remaining demo scripts (docs/sql_demo/demo_2/3/5/6)
  * re-hosted END-TO-END through the gate: the script text stays in the
  * reference's dialect (PROCTIME(), WATERMARK, HOP, FOR SYSTEM_TIME AS
  * OF, debezium changelogs), sources swap kafka/binlog for filesystem
  * payloads with the demos' own sample rows (no broker/binlog client in
  * this environment), and sinks land in live embedded Derby / memory
  * tables whose contents are asserted. This is SURVEY §5's acceptance
  * suite: a reference user's job scripts run unmodified but for the
  * transport options.
  */
class DemoGateSpec extends SparkSpec {

  private def writeLines(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      String.join("\n", lines: _*).getBytes("UTF-8"))

  private def jsonDir(lines: Seq[String]): String = {
    val d = Files.createTempDirectory("demo_src")
    writeLines(d, "part-0.json", lines)
    d.toString
  }

  private def derby(db: String): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    DriverManager.getConnection(url).close()
    url
  }

  private def query(url: String, sql: String): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (1 to n).map(r.getObject(_)): Seq[Any]).toList
    } finally conn.close()
  }

  test("demo_1: LIVE kafka source (REST wire) -> agg -> keyed JDBC sink") {
    // the reference's hello-world (demo_1.md:25-60): kafka json source,
    // SUM(amnount) GROUP BY day_time, JDBC upsert sink. Here the source
    // is genuinely consumed over a real socket (graft.sources
    // .KafkaRestSource) — records produced to the stub broker while the
    // job runs arrive incrementally and update the keyed sink.
    val broker = new graft.sources.StubBroker("flink_test", 1)
    val url = derby("demo1")
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("CREATE TABLE sync_test_1 (" +
      "day_time VARCHAR(64) PRIMARY KEY, total_gmv BIGINT)")
    finally c.close()
    try {
      broker.append(0, "null",
        """{"day_time":"20201011","id":8,"amnount":211}""")
      broker.append(0, "null",
        """{"day_time":"20201011","id":9,"amnount":100}""")
      val res = new ScriptRunner(spark,
        checkpointRoot =
          Some(Files.createTempDirectory("demo1_ckpt").toString))
        .run(
          // continuous trigger: the default AvailableNow drains and
          // stops, but this test produces records WHILE the job runs
          s"""SET table.exec.mini-batch.allow-latency = 100 ms;
             |create table flink_test_1 (
             |  id BIGINT,
             |  day_time VARCHAR,
             |  amnount BIGINT,
             |  proctime AS PROCTIME ()
             |) with (
             |  'connector' = 'kafka',
             |  'topic' = 'flink_test',
             |  'rest.endpoint' = '${broker.endpoint}',
             |  'properties.group.id' = 'flink_gp_test1',
             |  'scan.startup.mode' = 'earliest-offset',
             |  'format' = 'json'
             |);
             |CREATE TABLE sync_test_1 (
             |  day_time string,
             |  total_gmv bigint,
             |  PRIMARY KEY (day_time) NOT ENFORCED
             |) WITH (
             |  'connector' = 'jdbc', 'url' = '$url',
             |  'table-name' = 'sync_test_1', 'dialect' = 'two-step'
             |);
             |INSERT INTO sync_test_1
             |SELECT day_time, SUM(amnount) AS total_gmv
             |FROM flink_test_1
             |GROUP BY day_time;
             |""".stripMargin)
      assert(res.queries.size == 1)
      val q = res.queries.head
      try {
        q.processAllAvailable()
        assert(query(url, "SELECT day_time, total_gmv FROM sync_test_1")
          == Seq(Seq("20201011", 311L)))
        // live incremental consume: a record produced AFTER the job
        // started revises the running aggregate
        broker.append(0, "null",
          """{"day_time":"20201011","id":10,"amnount":89}""")
        broker.append(0, "null",
          """{"day_time":"20201012","id":11,"amnount":5}""")
        q.processAllAvailable()
        assert(query(url,
          "SELECT day_time, total_gmv FROM sync_test_1 ORDER BY day_time")
          == Seq(Seq("20201011", 400L), Seq("20201012", 5L)))
      } finally q.stop()
    } finally broker.stop()
  }

  test("demo_2: dual-stream join -> keyed JDBC sink (batch replay)") {
    // topic payloads from demo_2.md:6-7
    val t1 = jsonDir(Seq(
      """{"day_time": "20201011","id": 8,"amnount":211}""",
      """{"day_time": "20201011","id": 9,"amnount":100}""",
      """{"day_time": "20201012","id": 10,"amnount":300}"""))
    val t2 = jsonDir(Seq(
      """{"id": 8,"coupon_amnount":100}""",
      """{"id": 9,"coupon_amnount":20}"""))
    val url = derby("demo2")
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE sync_test_2 (day_time VARCHAR(64) PRIMARY KEY, " +
        "total_gmv BIGINT)")
    finally c.close()

    // demo_2.md:27-91 with kafka -> filesystem json (no broker here)
    new ScriptRunner(spark, batchMode = true).run(
      s"""create table flink_test_2_1 (
         |  id BIGINT,
         |  day_time VARCHAR,
         |  amnount BIGINT,
         |  proctime AS PROCTIME ()
         |) with (
         |  'connector' = 'filesystem', 'path' = '$t1', 'format' = 'json'
         |);
         |create table flink_test_2_2 (
         |  id BIGINT,
         |  coupon_amnount BIGINT,
         |  proctime AS PROCTIME ()
         |) with (
         |  'connector' = 'filesystem', 'path' = '$t2', 'format' = 'json'
         |);
         |CREATE TABLE sync_test_2 (
         |  day_time string,
         |  total_gmv bigint,
         |  PRIMARY KEY (day_time) NOT ENFORCED
         |) WITH (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'sync_test_2', 'dialect' = 'two-step'
         |);
         |INSERT INTO sync_test_2
         |SELECT day_time, SUM(amnount - coupon_amnount) AS total_gmv
         |FROM (
         |  SELECT a.day_time as day_time, a.amnount as amnount,
         |    b.coupon_amnount as coupon_amnount
         |  FROM flink_test_2_1 as a
         |  LEFT JOIN flink_test_2_2 b on b.id = a.id
         |)
         |GROUP BY day_time;
         |""".stripMargin)

    val rows = query(url,
      "SELECT day_time, total_gmv FROM sync_test_2 ORDER BY day_time")
    // (211-100) + (100-20) = 191; day 2's only row has no coupon match
    // so SUM over the single NULL difference is NULL
    assert(rows == Seq(Seq("20201011", 191L), Seq("20201012", null)))
  }

  test("demo_3: stream + JDBC dim lookup join -> keyed JDBC sink (streaming)") {
    val url = derby("demo3")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      // dim rows from demo_3.md:20-24
      st.execute("CREATE TABLE test_dim (id BIGINT PRIMARY KEY, " +
        "coupon_amnount BIGINT)")
      st.execute("INSERT INTO test_dim VALUES (1, 1), (3, 1), (8, 1)")
      st.execute("CREATE TABLE sync_test_3 (day_time VARCHAR(64) " +
        "PRIMARY KEY, total_gmv BIGINT)")
    } finally c.close()
    val t1 = jsonDir(Seq(
      """{"day_time": "20201011","id": 8,"amnount":211}""",
      """{"day_time": "20201011","id": 1,"amnount":100}""",
      """{"day_time": "20201011","id": 99,"amnount":50}"""))

    // demo_3.md:47-109 verbatim query incl. FOR SYSTEM_TIME AS OF
    val res = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("demo3_ckpt").toString))
      .run(
        s"""create table flink_test_3 (
           |  id BIGINT,
           |  day_time VARCHAR,
           |  amnount BIGINT,
           |  proctime AS PROCTIME ()
           |) with (
           |  'connector' = 'filesystem', 'path' = '$t1', 'format' = 'json'
           |);
           |create table flink_test_3_dim (
           |  id BIGINT,
           |  coupon_amnount BIGINT
           |) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'test_dim',
           |  'lookup.max-retries' = '3'
           |);
           |CREATE TABLE sync_test_3 (
           |  day_time string,
           |  total_gmv bigint,
           |  PRIMARY KEY (day_time) NOT ENFORCED
           |) WITH (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sync_test_3', 'dialect' = 'two-step'
           |);
           |INSERT INTO sync_test_3
           |SELECT day_time, SUM(amnount - coupon_amnount) AS total_gmv
           |FROM (
           |  SELECT a.day_time as day_time, a.amnount as amnount,
           |    b.coupon_amnount as coupon_amnount
           |  FROM flink_test_3 as a
           |  LEFT JOIN flink_test_3_dim FOR SYSTEM_TIME AS OF a.proctime as b
           |  ON b.id = a.id
           |)
           |GROUP BY day_time;
           |""".stripMargin)
    assert(res.queries.size == 1)
    res.queries.foreach(_.awaitTermination(120000))

    // dim hit for id 1 and 8 (210 + 99); id 99 misses -> NULL difference
    // is dropped by SUM
    val rows = query(url, "SELECT day_time, total_gmv FROM sync_test_3")
    assert(rows == Seq(Seq("20201011", 309L)))
  }

  test("demo_6 §2.2: kafka debezium-json changelog source materializes keyed snapshot") {
    // demo_6.md:205-236 second script: read the GMV changelog back from
    // kafka ('format'='debezium-json', PRIMARY KEY) and materialize it —
    // updates collapse to the last image per key, deletes drop the key.
    val broker = new graft.sources.StubBroker("flink_test_6", 1)
    try {
      def env(op: String, before: String, after: String, ts: Long) =
        s"""{"op":"$op","ts_ms":$ts,"before":$before,"after":$after}"""
      def row(day: String, gmv: Double) =
        s"""{"day_str":"$day","gmv":$gmv}"""
      broker.append(0, "null", env("c", "null", row("20201011", 10.5), 1))
      broker.append(0, "null", env("c", "null", row("20201012", 3.0), 2))
      // same-key update: the later image must win
      broker.append(0, "null",
        env("u", row("20201011", 10.5), row("20201011", 99.25), 3))
      // delete: key vanishes from the snapshot
      broker.append(0, "null", env("d", row("20201012", 3.0), "null", 4))
      broker.append(0, "null", env("c", "null", row("20201013", 7.0), 5))
      new ScriptRunner(spark, batchMode = true).run(
        s"""CREATE TABLE kafka_gmv (
           |  day_str STRING,
           |  gmv DOUBLE,
           |  PRIMARY KEY (day_str) NOT ENFORCED
           |) WITH (
           |  'connector' = 'kafka',
           |  'topic' = 'flink_test_6',
           |  'rest.endpoint' = '${broker.endpoint}',
           |  'scan.startup.mode' = 'earliest-offset',
           |  'properties.group.id' = 'flink_gp_test6',
           |  'format' = 'debezium-json',
           |  'debezium-json.ignore-parse-errors' = 'true'
           |);
           |CREATE TABLE gmv_print (day_str STRING, gmv DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO gmv_print SELECT * FROM kafka_gmv;
           |""".stripMargin)
      val out = spark.table("gmv_print_out").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(out == Map("20201011" -> 99.25, "20201013" -> 7.0))
    } finally broker.stop()
  }

  test("upsert-kafka source materializes a compacted topic incl. tombstones") {
    // the read side of the keyed-changelog connector: envelopes upsert
    // by PK, a NULL-value tombstone deletes the key it was produced
    // under (key recovered from the record key)
    val broker = new graft.sources.StubBroker("uk_topic", 1)
    try {
      def env(op: String, before: String, after: String) =
        s"""{"op":"$op","before":$before,"after":$after}"""
      def row(day: String, gmv: Double) =
        s"""{"day_str":"$day","gmv":$gmv}"""
      broker.append(0, """{"day_str":"20201011"}""",
        env("u", "null", row("20201011", 10.5)))
      broker.append(0, """{"day_str":"20201012"}""",
        env("u", "null", row("20201012", 3.0)))
      broker.append(0, """{"day_str":"20201011"}""",
        env("u", "null", row("20201011", 42.0)))
      // tombstone: key 20201012 must vanish from the snapshot
      broker.append(0, """{"day_str":"20201012"}""", "null")
      new ScriptRunner(spark, batchMode = true).run(
        s"""CREATE TABLE uk_src (
           |  day_str STRING,
           |  gmv DOUBLE,
           |  PRIMARY KEY (day_str) NOT ENFORCED
           |) WITH (
           |  'connector' = 'upsert-kafka',
           |  'topic' = 'uk_topic',
           |  'rest.endpoint' = '${broker.endpoint}'
           |);
           |CREATE TABLE uk_sink (day_str STRING, gmv DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO uk_sink SELECT * FROM uk_src;
           |""".stripMargin)
      val out = spark.table("uk_sink_out").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(out == Map("20201011" -> 42.0))
    } finally broker.stop()
  }

  test("upsert-kafka LIVE round trip: sink produces over the REST wire, " +
    "source materializes the same topic") {
    // both sides of the keyed-changelog wire in one script: the sink
    // POSTs envelopes to the broker's produce route, later statements
    // upsert and tombstone over them, and the source reads the
    // compacted topic back — last value per key, deletes dropped
    val broker = new graft.sources.StubBroker("rt_topic", 1)
    try {
      val runner = new ScriptRunner(spark, batchMode = true)
      try {
        runner.run(
          s"""CREATE TABLE rtk_src (k BIGINT, v DOUBLE) WITH (
             |  'connector' = 'datagen', 'number-of-rows' = '10',
             |  'fields.k.kind' = 'sequence', 'fields.k.start' = '0',
             |  'fields.v.kind' = 'sequence', 'fields.v.start' = '100'
             |);
             |CREATE TABLE rtk_sink (
             |  k BIGINT, v DOUBLE, op VARCHAR,
             |  PRIMARY KEY (k) NOT ENFORCED
             |) WITH (
             |  'connector' = 'upsert-kafka', 'topic' = 'rt_topic',
             |  'rest.endpoint' = '${broker.endpoint}'
             |);
             |CREATE TABLE rtk_read (
             |  k BIGINT, v DOUBLE, PRIMARY KEY (k) NOT ENFORCED
             |) WITH (
             |  'connector' = 'upsert-kafka', 'topic' = 'rt_topic',
             |  'rest.endpoint' = '${broker.endpoint}'
             |);
             |CREATE TABLE rtk_out (k BIGINT, v DOUBLE)
             |WITH ('connector' = 'memory');
             |INSERT INTO rtk_sink
             |SELECT k, v, CAST(NULL AS STRING) AS op FROM rtk_src;
             |INSERT INTO rtk_sink
             |SELECT k, v + 1 AS v, CAST(NULL AS STRING) AS op
             |FROM rtk_src WHERE k < 5;
             |INSERT INTO rtk_sink
             |SELECT k, v, 'd' AS op FROM rtk_src WHERE k >= 8;
             |INSERT INTO rtk_out SELECT k, v FROM rtk_read;
             |""".stripMargin)
        val got = spark.table("rtk_out_out").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // keys 0-4 re-upserted (+1), 5-7 original, 8-9 tombstoned
        val want = (0L until 8L).map(k =>
          k -> (if (k < 5) 101.0 + k else 100.0 + k)).toMap
        assert(got == want, s"got $got")
      } finally runner.close()
    } finally broker.stop()
  }

  test("upsert-kafka: tombstone after a ts_ms-stamped upsert still deletes") {
    // Regression: normal Debezium producers stamp ts_ms on upsert
    // envelopes while tombstones are bare NULL values (no ts_ms at
    // all). Ordering per key by ts_ms DESC nulls-last would rank the
    // tombstone below the earlier upsert and resurrect the key; the
    // read side must order by kafka offset alone.
    val broker = new graft.sources.StubBroker("uk_ts_topic", 1)
    try {
      def env(op: String, after: String, tsMs: Long) =
        s"""{"op":"$op","ts_ms":$tsMs,"before":null,"after":$after}"""
      def row(day: String, gmv: Double) =
        s"""{"day_str":"$day","gmv":$gmv}"""
      broker.append(0, """{"day_str":"20201011"}""",
        env("u", row("20201011", 10.5), 1700000001000L))
      broker.append(0, """{"day_str":"20201012"}""",
        env("u", row("20201012", 3.0), 1700000002000L))
      // tombstone AFTER the stamped upsert: 20201012 must vanish
      broker.append(0, """{"day_str":"20201012"}""", "null")
      // and a stamped re-upsert after a tombstone must resurrect
      broker.append(0, """{"day_str":"20201011"}""", "null")
      broker.append(0, """{"day_str":"20201011"}""",
        env("u", row("20201011", 77.0), 1700000009000L))
      new ScriptRunner(spark, batchMode = true).run(
        s"""CREATE TABLE uk_ts_src (
           |  day_str STRING,
           |  gmv DOUBLE,
           |  PRIMARY KEY (day_str) NOT ENFORCED
           |) WITH (
           |  'connector' = 'upsert-kafka',
           |  'topic' = 'uk_ts_topic',
           |  'rest.endpoint' = '${broker.endpoint}'
           |);
           |CREATE TABLE uk_ts_sink (day_str STRING, gmv DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO uk_ts_sink SELECT * FROM uk_ts_src;
           |""".stripMargin)
      val out = spark.table("uk_ts_sink_out").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(out == Map("20201011" -> 77.0))
    } finally broker.stop()
  }

  test("debezium-json kafka source without PRIMARY KEY is rejected loudly") {
    val broker = new graft.sources.StubBroker("nokey_t", 1)
    try {
      val e = intercept[IllegalArgumentException] {
        new ScriptRunner(spark, batchMode = true).run(
          s"""CREATE TABLE nokey_src (day_str STRING, gmv DOUBLE)
             |WITH ('connector' = 'kafka', 'topic' = 'nokey_t',
             |  'rest.endpoint' = '${broker.endpoint}',
             |  'format' = 'debezium-json');
             |CREATE TABLE nokey_sink (day_str STRING, gmv DOUBLE)
             |WITH ('connector' = 'memory');
             |INSERT INTO nokey_sink SELECT * FROM nokey_src;
             |""".stripMargin)
      }
      assert(e.getMessage.contains("PRIMARY KEY"))
    } finally broker.stop()
  }

  test("lookup.cache.ttl serves a cached dim and refreshes after expiry") {
    val url = derby("ttlcache")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE ttl_dim (id BIGINT PRIMARY KEY, " +
        "v VARCHAR(16))")
      st.execute("INSERT INTO ttl_dim VALUES (1, 'A')")
    } finally c.close()
    val src = jsonDir(Seq("""{"id": 1}"""))
    def setDim(v: String): Unit = {
      val c2 = DriverManager.getConnection(url)
      try c2.createStatement()
        .execute(s"UPDATE ttl_dim SET v = '$v' WHERE id = 1")
      finally c2.close()
    }
    def ddl(ttl: String, sink: String) =
      s"""create table lk_src_$sink (id BIGINT) with (
         |  'connector' = 'filesystem', 'path' = '$src', 'format' = 'json'
         |);
         |create table lk_dim_$sink (id BIGINT, v VARCHAR) with (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ttl_dim',
         |  'lookup.cache.ttl' = '$ttl',
         |  'lookup.cache.max-rows' = '100'
         |);
         |CREATE TABLE $sink (id BIGINT, v STRING)
         |WITH ('connector' = 'memory');
         |""".stripMargin
    val ins = (sink: String) =>
      s"""INSERT INTO $sink
         |SELECT s.id, d.v FROM lk_src_$sink s
         |LEFT JOIN lk_dim_$sink FOR SYSTEM_TIME AS OF s.id AS d
         |ON s.id = d.id;""".stripMargin
    def got(sink: String): String =
      spark.table(s"${sink}_out").collect().head.getString(1)

    // long TTL: an update between two statements must NOT be visible —
    // the second statement reads the cached snapshot, not the database
    val longTtl = new ScriptRunner(spark, batchMode = true)
    try {
      longTtl.run(ddl("60 s", "lk_long") + ins("lk_long"))
      assert(got("lk_long") == "A")
      setDim("B")
      longTtl.run(ins("lk_long"))
      assert(got("lk_long") == "A", "dim update leaked through inside TTL")
    } finally longTtl.close()

    // short TTL: after expiry (+ refresher period) the next statement
    // re-reads the database and sees the update
    setDim("A")
    val shortTtl = new ScriptRunner(spark, batchMode = true)
    try {
      shortTtl.run(ddl("100 ms", "lk_short") + ins("lk_short"))
      assert(got("lk_short") == "A")
      setDim("C")
      Thread.sleep(600) // ttl 100ms + refresher period 50ms, with slack
      shortTtl.run(ins("lk_short"))
      assert(got("lk_short") == "C", "dim cache not refreshed after TTL")
    } finally shortTtl.close()
  }

  test("oversized dim routes to the keyed point-query path (demo_3 dialect)") {
    // demo_3.md:66-78: 'lookup.cache.max-rows' bounds the CACHE, not the
    // dim. A dim larger than the bound must not fail-fast in the
    // snapshot path — it routes to JdbcKeyedLookup point queries, and
    // only the keys the statement actually probes ever reach the
    // database.
    val url = derby("bigdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE big_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      val ps = c.prepareStatement("INSERT INTO big_dim VALUES (?, ?)")
      (0L until 1000L).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"label_$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
    // the fact stream probes only 4 distinct keys of the 1000-row dim
    val src = jsonDir(Seq(
      """{"k": 7, "v": 1.5}""", """{"k": 7, "v": 2.5}""",
      """{"k": 42, "v": 3.0}""", """{"k": 999, "v": 4.0}""",
      """{"k": 555, "v": 5.0}""", """{"k": null, "v": 9.0}"""))
    def script(sink: String) =
      s"""create table facts_$sink (k BIGINT, v DOUBLE) with (
         |  'connector' = 'filesystem', 'path' = '$src', 'format' = 'json'
         |);
         |create table big_dim (id BIGINT, label VARCHAR) with (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'big_dim',
         |  'lookup.cache.ttl' = '60 s',
         |  'lookup.cache.max-rows' = '50',
         |  'lookup.max-retries' = '3'
         |);
         |CREATE TABLE $sink (k BIGINT, label STRING, v DOUBLE)
         |WITH ('connector' = 'memory');
         |INSERT INTO $sink
         |SELECT f.k, d.label, f.v FROM facts_$sink f
         |JOIN big_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id;
         |""".stripMargin
    val runner = new ScriptRunner(spark, batchMode = true)
    try {
      runner.run(script("kd_sink"))
      val out = spark.table("kd_sink_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(out == Set(
        (7L, "label_7", 1.5), (7L, "label_7", 2.5),
        (42L, "label_42", 3.0), (999L, "label_999", 4.0),
        (555L, "label_555", 5.0)))
      val s1 = runner.keyedLookupStats("big_dim").get
      // the 1000-row dim was never scanned: exactly the 4 distinct
      // non-null probe keys were fetched, one point query each
      assert(s1.fetchedKeys == 4, s"stats after first statement: $s1")
      assert(s1.probedKeys == 4)
      // a second statement inside the TTL is served from the LRU cache —
      // zero new fetches, four hits
      runner.run(
        s"""CREATE TABLE kd_sink2 (k BIGINT, label STRING, v DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO kd_sink2
           |SELECT f.k, d.label, f.v FROM facts_kd_sink f
           |JOIN big_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id;
           |""".stripMargin)
      assert(spark.table("kd_sink2_out").count() == 5)
      val s2 = runner.keyedLookupStats("big_dim").get
      assert(s2.fetchedKeys == 4, s"stats after second statement: $s2")
      assert(s2.cacheHits == 4, s"stats after second statement: $s2")
    } finally runner.close()
  }

  test("explicit keyed strategy + missing-key semantics through the gate") {
    // 'lookup.cache.strategy' = 'keyed' forces point queries even for a
    // small dim; an inner temporal join drops facts whose key is absent
    // (negative-cached), matching the snapshot path's semantics
    val url = derby("keyedopt")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE kd_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      st.execute("INSERT INTO kd_dim VALUES (1, 'one'), (2, 'two')")
    } finally c.close()
    val src = jsonDir(Seq(
      """{"k": 1}""", """{"k": 2}""", """{"k": 3}"""))
    val runner = new ScriptRunner(spark, batchMode = true)
    try {
      runner.run(
        s"""create table facts_ko (k BIGINT) with (
           |  'connector' = 'filesystem', 'path' = '$src',
           |  'format' = 'json'
           |);
           |create table kd_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'kd_dim',
           |  'lookup.cache.strategy' = 'keyed'
           |);
           |CREATE TABLE ko_sink (k BIGINT, label STRING)
           |WITH ('connector' = 'memory');
           |INSERT INTO ko_sink
           |SELECT f.k, d.label FROM facts_ko f
           |JOIN kd_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id;
           |""".stripMargin)
      val out = spark.table("ko_sink_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(out == Set(1L -> "one", 2L -> "two")) // k=3 absent → dropped
      val s = runner.keyedLookupStats("kd_dim").get
      assert(s.probedKeys == 3 && s.fetchedKeys == 3,
        s"negative caching must count the miss as fetched once: $s")
    } finally runner.close()
  }

  test("two temporal joins of one keyed dim union slices; INT keys cast") {
    // a statement may join the same keyed dim more than once (different
    // aliases, different fact columns) — each join's probed rows must
    // land in the ONE slice view, or the last join registered would
    // clobber the earlier ones and silently drop their rows. The fact
    // column `a` is INT against the BIGINT dim key: the probe side is
    // cast to the dim key type before collecting, so the point queries
    // still hit.
    val url = derby("pairdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE pair_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      st.execute("INSERT INTO pair_dim VALUES (7, 'seven'), (42, 'answer')")
    } finally c.close()
    val src = jsonDir(Seq("""{"a": 7, "b": 42, "v": 1.5}"""))
    val runner = new ScriptRunner(spark, batchMode = true)
    try {
      runner.run(
        s"""create table facts_pj (a INT, b BIGINT, v DOUBLE) with (
           |  'connector' = 'filesystem', 'path' = '$src',
           |  'format' = 'json'
           |);
           |create table pair_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'pair_dim',
           |  'lookup.cache.strategy' = 'keyed'
           |);
           |CREATE TABLE pj_sink (la STRING, lb STRING, v DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO pj_sink
           |SELECT d1.label AS la, d2.label AS lb, f.v FROM facts_pj f
           |JOIN pair_dim FOR SYSTEM_TIME AS OF f.a AS d1 ON f.a = d1.id
           |JOIN pair_dim FOR SYSTEM_TIME AS OF f.b AS d2 ON f.b = d2.id;
           |""".stripMargin)
      val out = spark.table("pj_sink_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      // under per-join view registration the d2 slice (id=42) would
      // have clobbered d1's (id=7) and the first join would emit nothing
      assert(out == Set(("seven", "answer", 1.5)))
    } finally runner.close()
  }

  test("demo_3 VERBATIM on the keyed strategy: subquery + LEFT temporal " +
    "join + aggregate, streaming, point-query dim") {
    // the exact demo_3.md script (nested subquery, LEFT JOIN with the
    // dim on the ON's LHS, outer GROUP BY, jdbc two-step sink) with
    // only 'lookup.cache.strategy' = 'keyed' added — the enrichment
    // rewrite must reproduce the snapshot path's answer byte-for-byte,
    // including the NULL-extended miss (id 99) dropped by SUM
    val url = derby("demo3k")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE test_dim (id BIGINT PRIMARY KEY, " +
        "coupon_amnount BIGINT)")
      st.execute("INSERT INTO test_dim VALUES (1, 1), (3, 1), (8, 1)")
      st.execute("CREATE TABLE sync_test_3k (day_time VARCHAR(64) " +
        "PRIMARY KEY, total_gmv BIGINT)")
    } finally c.close()
    val t1 = jsonDir(Seq(
      """{"day_time": "20201011","id": 8,"amnount":211}""",
      """{"day_time": "20201011","id": 1,"amnount":100}""",
      """{"day_time": "20201011","id": 99,"amnount":50}"""))
    val res = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("d3k_ckpt").toString))
      .run(
        s"""create table flink_test_3 (
           |  id BIGINT,
           |  day_time VARCHAR,
           |  amnount BIGINT,
           |  proctime AS PROCTIME ()
           |) with (
           |  'connector' = 'filesystem', 'path' = '$t1', 'format' = 'json'
           |);
           |create table flink_test_3_dim (
           |  id BIGINT,
           |  coupon_amnount BIGINT
           |) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'test_dim',
           |  'lookup.max-retries' = '3',
           |  'lookup.cache.strategy' = 'keyed'
           |);
           |CREATE TABLE sync_test_3k (
           |  day_time string,
           |  total_gmv bigint,
           |  PRIMARY KEY (day_time) NOT ENFORCED
           |) WITH (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sync_test_3k', 'dialect' = 'two-step'
           |);
           |INSERT INTO sync_test_3k
           |SELECT day_time, SUM(amnount - coupon_amnount) AS total_gmv
           |FROM (
           |  SELECT a.day_time as day_time, a.amnount as amnount,
           |    b.coupon_amnount as coupon_amnount
           |  FROM flink_test_3 as a
           |  LEFT JOIN flink_test_3_dim FOR SYSTEM_TIME AS OF a.proctime as b
           |  ON b.id = a.id
           |)
           |GROUP BY day_time;
           |""".stripMargin)
    assert(res.queries.size == 1)
    res.queries.foreach(_.awaitTermination(120000))
    val rows = query(url, "SELECT day_time, total_gmv FROM sync_test_3k")
    assert(rows == Seq(Seq("20201011", 309L)))
  }

  test("STREAMING keyed lookup: oversized dim served by per-executor " +
    "point queries mid-stream (demo_3 streaming shape)") {
    // the r11 gap: a demo_3 author with a dim past max-rows on a
    // STREAMING source got a loud rejection; now the temporal join is
    // spliced into the streaming plan as a per-partition point-query
    // enrichment. LEFT JOIN checks null-extension for missing keys.
    val url = derby("skdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sk_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      val ps = c.prepareStatement("INSERT INTO sk_dim VALUES (?, ?)")
      (0L until 1000L).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"label_$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
    val broker = new graft.sources.StubBroker("sk_topic", 1)
    val runner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("sk_ckpt").toString))
    try {
      broker.append(0, "null", """{"k":7,"v":1.5}""")
      broker.append(0, "null", """{"k":7,"v":2.5}""")
      broker.append(0, "null", """{"k":42,"v":3.0}""")
      broker.append(0, "null", """{"k":5555,"v":4.0}""")
      val res = runner.run(
        s"""SET table.exec.mini-batch.allow-latency = 100 ms;
           |create table sk_src (k BIGINT, v DOUBLE) with (
           |  'connector' = 'kafka', 'topic' = 'sk_topic',
           |  'rest.endpoint' = '${broker.endpoint}',
           |  'scan.startup.mode' = 'earliest-offset',
           |  'format' = 'json'
           |);
           |create table sk_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sk_dim',
           |  'lookup.cache.ttl' = '60 s',
           |  'lookup.cache.max-rows' = '50',
           |  'lookup.max-retries' = '3'
           |);
           |CREATE TABLE sk_sink (k BIGINT, label STRING, v DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO sk_sink
           |SELECT f.k, d.label, f.v FROM sk_src f
           |LEFT JOIN sk_dim FOR SYSTEM_TIME AS OF f.k AS d
           |  ON f.k = d.id;
           |""".stripMargin)
      val q = res.queries.head
      try {
        q.processAllAvailable()
        def seen: Set[(Long, String, Double)] = spark.table("sk_sink")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        assert(seen == Set(
          (7L, "label_7", 1.5), (7L, "label_7", 2.5),
          (42L, "label_42", 3.0), (5555L, null, 4.0)), seen.toString)
        val s1 = runner.keyedLookupStats("sk_dim").get
        // the 1000-row dim was never scanned: 3 distinct keys probed,
        // each fetched once (5555 negative-cached)
        assert(s1.probedKeys == 3 && s1.fetchedKeys == 3,
          s"stats after first batch: $s1")
        // a later micro-batch re-probing a cached key hits the
        // executor cache; a new key costs one more fetch
        broker.append(0, "null", """{"k":7,"v":9.0}""")
        broker.append(0, "null", """{"k":500,"v":8.0}""")
        q.processAllAvailable()
        assert(seen.contains((500L, "label_500", 8.0)) &&
          seen.contains((7L, "label_7", 9.0)), seen.toString)
        val s2 = runner.keyedLookupStats("sk_dim").get
        assert(s2.fetchedKeys == 4, s"stats after second batch: $s2")
        assert(s2.cacheHits >= 1, s"stats after second batch: $s2")
      } finally q.stop()
    } finally { runner.close(); broker.stop() }
  }

  test("streaming keyed rewrite targets the ON clause's qualifier, not " +
    "the first textual occurrence of the probe table") {
    // `FROM s AS x JOIN s AS a2 … JOIN dim FOR SYSTEM_TIME … ON
    // a2.k2 = d.id`: the enrichment must attach to a2's relation —
    // rewriting the first `FROM s` would key the point queries off x's
    // rows and leave a2 un-enriched, silently wrong with no error
    val url = derby("sjdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sj_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      st.execute("INSERT INTO sj_dim VALUES (100, 'label_100')")
      st.execute("INSERT INTO sj_dim VALUES (200, 'label_200')")
    } finally c.close()
    val broker = new graft.sources.StubBroker("sj_topic", 1)
    val runner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("sj_ckpt").toString))
    try {
      broker.append(0, "null", """{"rid":1,"parent":2,"k2":100}""")
      broker.append(0, "null", """{"rid":2,"parent":1,"k2":200}""")
      val res = runner.run(
        s"""create table sj_src (rid BIGINT, parent BIGINT, k2 BIGINT)
           |with (
           |  'connector' = 'kafka', 'topic' = 'sj_topic',
           |  'rest.endpoint' = '${broker.endpoint}',
           |  'scan.startup.mode' = 'earliest-offset',
           |  'format' = 'json'
           |);
           |create table sj_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sj_dim',
           |  'lookup.cache.ttl' = '60 s',
           |  'lookup.cache.strategy' = 'keyed'
           |);
           |CREATE TABLE sj_sink (rid BIGINT, rid2 BIGINT, label STRING)
           |WITH ('connector' = 'memory');
           |INSERT INTO sj_sink
           |SELECT x.rid AS rid, a2.rid AS rid2, d.label AS label
           |FROM sj_src AS x JOIN sj_src AS a2 ON x.rid = a2.parent
           |JOIN sj_dim FOR SYSTEM_TIME AS OF a2.rid AS d
           |  ON a2.k2 = d.id;
           |""".stripMargin)
      val q = res.queries.head
      try {
        q.processAllAvailable()
        val seen = spark.table("sj_sink").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        // x=rid1 pairs with a2=rid2 (k2=200) and vice versa: each output
        // row's label must come from a2's k2, not x's
        assert(seen == Set((1L, 2L, "label_200"), (2L, 1L, "label_100")),
          seen.toString)
      } finally q.stop()
    } finally { runner.close(); broker.stop() }
  }

  test("LEFT OUTER spread across lines still left-joins the keyed dim") {
    // the LEFT detection reads the whole statement prefix, not a fixed
    // window: `LEFT\n OUTER\n JOIN` must null-extend missing keys, not
    // silently drop their rows under an inner join
    val url = derby("mldim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE ml_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      st.execute("INSERT INTO ml_dim VALUES (7, 'seven')")
    } finally c.close()
    val broker = new graft.sources.StubBroker("ml_topic", 1)
    val runner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("ml_ckpt").toString))
    try {
      broker.append(0, "null", """{"k":7,"v":1.0}""")
      broker.append(0, "null", """{"k":9999,"v":2.0}""")
      val res = runner.run(
        s"""create table ml_src (k BIGINT, v DOUBLE) with (
           |  'connector' = 'kafka', 'topic' = 'ml_topic',
           |  'rest.endpoint' = '${broker.endpoint}',
           |  'scan.startup.mode' = 'earliest-offset',
           |  'format' = 'json'
           |);
           |create table ml_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'ml_dim',
           |  'lookup.cache.ttl' = '60 s',
           |  'lookup.cache.strategy' = 'keyed'
           |);
           |CREATE TABLE ml_sink (k BIGINT, label STRING, v DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO ml_sink
           |SELECT f.k, d.label, f.v FROM ml_src f
           |LEFT
           |    OUTER
           |    JOIN ml_dim FOR SYSTEM_TIME AS OF f.k AS d
           |  ON f.k = d.id;
           |""".stripMargin)
      val q = res.queries.head
      try {
        q.processAllAvailable()
        val seen = spark.table("ml_sink").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        assert(seen == Set((7L, "seven", 1.0), (9999L, null, 2.0)),
          seen.toString)
      } finally q.stop()
    } finally { runner.close(); broker.stop() }
  }

  test("a statement re-binding the dim alias in another scope is " +
    "rejected loudly, not silently rewritten") {
    // an unrelated subquery aliasing a DIFFERENT table as d: its d.label
    // is that table's column, not the dim's — the binder works on the
    // analyzed plan, so each reference keeps its own scope
    val url = derby("shdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sh_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      st.execute("INSERT INTO sh_dim VALUES (1, 'one'), (2, 'two')")
    } finally c.close()
    val other = jsonDir(Seq("""{"label": 1}"""))
    val broker = new graft.sources.StubBroker("sh_topic", 1)
    val runner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("sh_ckpt").toString))
    try {
      broker.append(0, "null", """{"k":1,"v":1.0}""")
      broker.append(0, "null", """{"k":2,"v":2.0}""")
      val res = runner.run(
        s"""create table sh_src (k BIGINT, v DOUBLE) with (
           |  'connector' = 'kafka', 'topic' = 'sh_topic',
           |  'rest.endpoint' = '${broker.endpoint}',
           |  'scan.startup.mode' = 'earliest-offset',
           |  'format' = 'json'
           |);
           |create table sh_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sh_dim',
           |  'lookup.cache.ttl' = '60 s',
           |  'lookup.cache.strategy' = 'keyed'
           |);
           |create table sh_other (label BIGINT) with (
           |  'connector' = 'filesystem', 'path' = '$other',
           |  'format' = 'json', 'source.bounded' = 'true'
           |);
           |CREATE TABLE sh_sink (k BIGINT, label STRING)
           |WITH ('connector' = 'memory');
           |INSERT INTO sh_sink
           |SELECT f.k, d.label FROM sh_src f
           |JOIN sh_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id
           |WHERE f.k IN (SELECT d.label FROM sh_other d);
           |""".stripMargin)
      val q = res.queries.head
      try {
        q.processAllAvailable()
        val seen = spark.table("sh_sink").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        // sh_other holds label 1: only k=1 passes the IN, enriched from
        // the dim (a dim-scoped d.label would compare k to 'one'/'two')
        assert(seen == Set((1L, "one")), seen.toString)
      } finally q.stop()
    } finally { runner.close(); broker.stop() }
  }

  test("a statement binding the PROBE qualifier twice is rejected " +
    "loudly, not enriched at the first textual occurrence") {
    // the subquery re-selects from the STREAMING probe table under the
    // same alias: Spark itself rejects a streaming IN-subquery
    val url = derby("sh2dim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sh2_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      st.execute("INSERT INTO sh2_dim VALUES (1, 'one')")
    } finally c.close()
    val broker = new graft.sources.StubBroker("sh2_topic", 1)
    val runner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("sh2_ckpt").toString))
    try {
      broker.append(0, "null", """{"k":1,"v":1.0}""")
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        runner.run(
          s"""create table sh2_src (k BIGINT, v DOUBLE) with (
             |  'connector' = 'kafka', 'topic' = 'sh2_topic',
             |  'rest.endpoint' = '${broker.endpoint}',
             |  'scan.startup.mode' = 'earliest-offset',
             |  'format' = 'json'
             |);
             |create table sh2_dim (id BIGINT, label VARCHAR) with (
             |  'connector' = 'jdbc', 'url' = '$url',
             |  'table-name' = 'sh2_dim',
             |  'lookup.cache.ttl' = '60 s',
             |  'lookup.cache.strategy' = 'keyed'
             |);
             |CREATE TABLE sh2_sink (k BIGINT, label STRING)
             |WITH ('connector' = 'memory');
             |INSERT INTO sh2_sink
             |SELECT f.k, d.label FROM sh2_src f
             |JOIN sh2_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id
             |WHERE f.k IN (SELECT f.k FROM sh2_src f WHERE f.v > 0);
             |""".stripMargin)
      }
      assert(e.getMessage.contains(
        "INVALID_SUBQUERY_EXPRESSION.STREAMING_QUERY") &&
        e.getMessage.contains("sh2_src"), e.getMessage)
    } finally { runner.close(); broker.stop() }
  }

  test("runner close invalidates its keyed caches: a NEW runner sees a " +
    "rebuilt dim within TTL") {
    // the per-executor caches outlive any one runner; close() drops the
    // tuples the runner registered so the next runner against a
    // reseeded dim table reads fresh rows instead of inheriting entries
    // until the TTL lapses (complete in local mode; on a cluster the
    // executors' copies age out by the TTL the dim declares)
    val url = derby("rbdim")
    def seed(label: String): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute("DROP TABLE rb_dim")
        catch { case _: java.sql.SQLException => () }
        st.execute("CREATE TABLE rb_dim (id BIGINT PRIMARY KEY, " +
          "label VARCHAR(24))")
        st.execute(s"INSERT INTO rb_dim VALUES (1, '$label')")
      } finally c.close()
    }
    seed("before")
    val factsDir = Files.createTempDirectory("rb_facts").toString
    spark.range(1).selectExpr("1L AS k")
      .write.mode("overwrite").parquet(factsDir)
    def script = s"""create table rb_src (k BIGINT) with (
       |  'connector' = 'filesystem', 'path' = '$factsDir',
       |  'format' = 'parquet'
       |);
       |create table rb_dim (id BIGINT, label VARCHAR) with (
       |  'connector' = 'jdbc', 'url' = '$url',
       |  'table-name' = 'rb_dim',
       |  'lookup.cache.ttl' = '3600 s',
       |  'lookup.cache.strategy' = 'keyed'
       |);
       |CREATE TABLE rb_sink (k BIGINT, label STRING)
       |WITH ('connector' = 'memory');
       |INSERT INTO rb_sink
       |SELECT f.k, d.label FROM rb_src f
       |JOIN rb_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id;
       |""".stripMargin
    def labels: Set[String] = spark.table("rb_sink_out").collect()
      .map(_.getString(1)).toSet
    val r1 = new ScriptRunner(spark, batchMode = true)
    try { r1.run(script); assert(labels == Set("before")) }
    finally r1.close()
    seed("after")
    val r2 = new ScriptRunner(spark, batchMode = true)
    // a fresh runner within the 1h TTL must see the rebuilt dim
    try { r2.run(script); assert(labels == Set("after"), labels.toString) }
    finally r2.close()
  }

  test("keyed slice fetch is DISTRIBUTED: a million-key probe set " +
    "never materializes on the driver") {
    // r11 carried a driver-side collect of up to 5M probe keys plus a
    // serial driver JDBC loop; the slice is now a mapPartitions plan
    // over per-executor caches. Assert both the behavior (10^6 distinct
    // keys resolved, correct join) and the structure (the dim's view is
    // a distributed plan, not a LocalRelation of collected rows).
    val url = derby("mdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE m_dim (id BIGINT PRIMARY KEY, " +
        "label VARCHAR(24))")
      val ps = c.prepareStatement("INSERT INTO m_dim VALUES (?, ?)")
      (0L until 1000L).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"label_$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
    val factsDir = Files.createTempDirectory("m_facts").toString
    // 10^6 distinct keys; only 1000 hit the dim, the rest negative-cache
    spark.range(1000000L).selectExpr("id AS k")
      .write.mode("overwrite").parquet(factsDir)
    val runner = new ScriptRunner(spark, batchMode = true)
    try {
      runner.run(
        s"""create table m_facts (k BIGINT) with (
           |  'connector' = 'filesystem', 'path' = '$factsDir',
           |  'format' = 'parquet'
           |);
           |create table m_dim (id BIGINT, label VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'm_dim',
           |  'lookup.cache.strategy' = 'keyed',
           |  'lookup.cache.max-rows' = '100000',
           |  'lookup.in-list-chunk' = '100'
           |);
           |CREATE TABLE m_sink (k BIGINT, label STRING)
           |WITH ('connector' = 'memory');
           |INSERT INTO m_sink
           |SELECT f.k, d.label FROM m_facts f
           |JOIN m_dim FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id;
           |""".stripMargin)
      assert(spark.table("m_sink_out").count() == 1000L)
      val s = runner.keyedLookupStats("m_dim").get
      assert(s.probedKeys == 1000000L && s.fetchedKeys == 1000000L,
        s"stats: $s")
      // structural proof of no driver materialization: the sink's plan
      // reads the dim through the distributed slice (a mapPartitions) —
      // no LocalRelation of collected rows anywhere in it
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
        MapPartitions}
      val sinkPlan = spark.table("m_sink_out").queryExecution.analyzed
      assert(sinkPlan.collectFirst { case m: MapPartitions => m }.isDefined,
        sinkPlan.toString.take(500))
      val hasLocal = sinkPlan.collectFirst {
        case l: LocalRelation if l.data.nonEmpty => l
      }.isDefined
      assert(!hasLocal, sinkPlan.toString.take(500))
    } finally runner.close()
  }

  test("lookup TTL refresh is visible MID-STREAM across micro-batches") {
    // the full demo_3 semantics: one long-running streaming join, dim
    // updated while it runs — micro-batches inside the TTL see the
    // cached snapshot, micro-batches after expiry see the update (the
    // cache layer serves the refresh without re-planning the query)
    val url = derby("ttlstream")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sdim (id BIGINT PRIMARY KEY, v VARCHAR(16))")
      st.execute("INSERT INTO sdim VALUES (1, 'OLD')")
    } finally c.close()
    val broker = new graft.sources.StubBroker("ttl_stream_t", 1)
    val runner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("ttls_ckpt").toString))
    try {
      broker.append(0, "null", """{"id":1,"tag":"r1"}""")
      val res = runner.run(
        s"""SET table.exec.mini-batch.allow-latency = 100 ms;
           |create table s_src (id BIGINT, tag VARCHAR) with (
           |  'connector' = 'kafka', 'topic' = 'ttl_stream_t',
           |  'rest.endpoint' = '${broker.endpoint}',
           |  'scan.startup.mode' = 'earliest-offset',
           |  'format' = 'json'
           |);
           |create table s_dim (id BIGINT, v VARCHAR) with (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sdim',
           |  'lookup.cache.ttl' = '8 s'
           |);
           |CREATE TABLE s_sink (tag STRING, v STRING)
           |WITH ('connector' = 'memory');
           |INSERT INTO s_sink
           |SELECT s.tag, d.v FROM s_src s
           |JOIN s_dim FOR SYSTEM_TIME AS OF s.id AS d ON s.id = d.id;
           |""".stripMargin)
      val q = res.queries.head
      try {
        q.processAllAvailable()
        def seen: Map[String, String] = spark.table("s_sink").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(seen == Map("r1" -> "OLD"))
        // update the dim while the query runs; a record inside the TTL
        // still joins the cached image
        val c2 = DriverManager.getConnection(url)
        try c2.createStatement()
          .execute("UPDATE sdim SET v = 'NEW' WHERE id = 1")
        finally c2.close()
        broker.append(0, "null", """{"id":1,"tag":"r2"}""")
        q.processAllAvailable()
        assert(seen("r2") == "OLD", s"dim update leaked inside TTL: $seen")
        // after TTL + refresher period, a later micro-batch sees NEW
        Thread.sleep(9500)
        broker.append(0, "null", """{"id":1,"tag":"r3"}""")
        q.processAllAvailable()
        assert(seen("r3") == "NEW", s"cache not refreshed mid-stream: $seen")
        assert(seen("r1") == "OLD" && seen("r2") == "OLD")
      } finally q.stop()
    } finally { runner.close(); broker.stop() }
  }

  test("demo_5: HOP window over watermarked stream -> keyed JDBC sink (streaming)") {
    val url = derby("demo5")
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE sync_test_hop_output (window_start TIMESTAMP, " +
        "window_end TIMESTAMP, username VARCHAR(255), clicks BIGINT, " +
        "PRIMARY KEY (window_start, window_end, username))")
    finally c.close()
    // the 7 sample clicks from demo_5.md:8-14
    val t5 = jsonDir(Seq(
      """{"username":"zhp","click_url":"https://www.infoq.cn/","ts":"2020-01-05 11:12:12"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/video/BYSSg4hGR5oZmUFsL8Kb","ts":"2020-01-05 11:12:15"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/talks","ts":"2020-01-05 11:12:18"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/","ts":"2020-01-05 11:12:55"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/","ts":"2020-01-05 11:13:25"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/talks","ts":"2020-01-05 11:13:25"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/talks","ts":"2020-01-05 11:13:26"}"""))

    // demo_5.md:36-84: SET mini-batch knobs + WATERMARK DDL + HOP SQL,
    // count column mapped positionally into `clicks` (Flink semantics)
    val res = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("demo5_ckpt").toString))
      .run(
        s"""SET table.exec.mini-batch.enabled=true;
           |SET table.exec.mini-batch.size=5;
           |create table user_clicks (
           |  username varchar,
           |  click_url varchar,
           |  ts timestamp,
           |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
           |) with (
           |  'connector' = 'filesystem', 'path' = '$t5', 'format' = 'json'
           |);
           |CREATE TABLE sync_test_hop_output (
           |  window_start TIMESTAMP(3),
           |  window_end TIMESTAMP(3),
           |  username VARCHAR,
           |  clicks BIGINT,
           |  PRIMARY KEY (window_start, window_end, username) NOT ENFORCED
           |) WITH (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sync_test_hop_output', 'dialect' = 'two-step'
           |);
           |INSERT INTO sync_test_hop_output
           |SELECT
           | HOP_START (ts, INTERVAL '30' SECOND, INTERVAL '1' MINUTE) as window_start,
           | HOP_END (ts, INTERVAL '30' SECOND, INTERVAL '1' MINUTE) as window_end,
           | username,
           | COUNT(click_url)
           |FROM user_clicks
           |GROUP BY HOP (ts, INTERVAL '30' SECOND, INTERVAL '1' MINUTE), username;
           |""".stripMargin)
    assert(res.queries.size == 1)
    res.queries.foreach(_.awaitTermination(120000))

    val rows = query(url,
      "SELECT window_start, username, clicks FROM sync_test_hop_output " +
        "ORDER BY window_start")
      .map(r => (r(0).toString, r(1), r(2)))
    assert(rows == Seq(
      ("2020-01-05 11:11:30.0", "zhp", 3L),
      ("2020-01-05 11:12:00.0", "zhp", 4L),
      ("2020-01-05 11:12:30.0", "zhp", 4L),
      ("2020-01-05 11:13:00.0", "zhp", 3L)))
  }

  test("demo_4: TUMBLE window over watermarked stream -> keyed JDBC sink (streaming)") {
    val url = derby("demo4")
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE sync_test_tumble_output (window_start TIMESTAMP, " +
        "window_end TIMESTAMP, username VARCHAR(255), clicks BIGINT, " +
        "PRIMARY KEY (window_start, window_end, username))")
    finally c.close()
    val t4 = jsonDir(Seq(
      """{"username":"zhp","click_url":"https://www.infoq.cn/","ts":"2020-01-05 11:12:12"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/video/BYSSg4hGR5oZmUFsL8Kb","ts":"2020-01-05 11:12:15"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/talks","ts":"2020-01-05 11:12:18"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/","ts":"2020-01-05 11:12:55"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/","ts":"2020-01-05 11:13:25"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/talks","ts":"2020-01-05 11:13:25"}""",
      """{"username":"zhp","click_url":"https://www.infoq.cn/talks","ts":"2020-01-05 11:13:26"}"""))

    // demo_4.md:33-82: mini-batch SETs, 20s WATERMARK, 60s TUMBLE
    val res = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("demo4_ckpt").toString))
      .run(
        s"""SET table.exec.mini-batch.enabled=true;
           |SET table.exec.mini-batch.size=5;
           |create table user_clicks (
           |  username varchar,
           |  click_url varchar,
           |  ts timestamp,
           |  WATERMARK FOR ts AS ts - INTERVAL '20' SECOND
           |) with (
           |  'connector' = 'filesystem', 'path' = '$t4', 'format' = 'json'
           |);
           |CREATE TABLE sync_test_tumble_output (
           |  window_start TIMESTAMP(3),
           |  window_end TIMESTAMP(3),
           |  username VARCHAR,
           |  clicks BIGINT,
           |  PRIMARY KEY (window_start, window_end, username) NOT ENFORCED
           |) WITH (
           |  'connector' = 'jdbc', 'url' = '$url',
           |  'table-name' = 'sync_test_tumble_output', 'dialect' = 'two-step'
           |);
           |INSERT INTO sync_test_tumble_output
           |SELECT
           | TUMBLE_START(ts, INTERVAL '60' SECOND) as window_start,
           | TUMBLE_END(ts, INTERVAL '60' SECOND) as window_end,
           | username,
           | COUNT(click_url)
           |FROM user_clicks
           |GROUP BY TUMBLE(ts, INTERVAL '60' SECOND), username;
           |""".stripMargin)
    assert(res.queries.size == 1)
    res.queries.foreach(_.awaitTermination(120000))

    val rows = query(url,
      "SELECT window_start, username, clicks FROM sync_test_tumble_output " +
        "ORDER BY window_start")
      .map(r => (r(0).toString, r(1), r(2)))
    assert(rows == Seq(
      ("2020-01-05 11:12:00.0", "zhp", 4L),
      ("2020-01-05 11:13:00.0", "zhp", 3L)))
  }

  test("demo_6 §2.2: mysql-cdc replay -> daily GMV over changelog state") {
    // changelog mirrors demo_6.md:161-171's INSERT/UPDATE/DELETE script
    val cl = Files.createTempDirectory("demo6_cl")
    writeLines(cl, "binlog.json", Seq(
      """{"op":"c","ts_ms":1,"before":null,"after":{"order_id":10001,"order_date":"2020-07-30 10:08:22","customer_name":"Jark","price":50.50000,"product_id":102,"order_status":false}}""",
      """{"op":"c","ts_ms":2,"before":null,"after":{"order_id":10002,"order_date":"2020-07-30 10:11:09","customer_name":"Sally","price":15.00000,"product_id":105,"order_status":true}}""",
      """{"op":"c","ts_ms":3,"before":null,"after":{"order_id":10003,"order_date":"2020-07-31 12:00:30","customer_name":"Edward","price":25.25000,"product_id":106,"order_status":true}}""",
      """{"op":"u","ts_ms":4,"before":{"order_id":10001,"order_date":"2020-07-30 10:08:22","customer_name":"Jark","price":50.50000,"product_id":102,"order_status":false},"after":{"order_id":10001,"order_date":"2020-07-30 10:08:22","customer_name":"Jark","price":50.50000,"product_id":102,"order_status":true}}""",
      """{"op":"c","ts_ms":5,"before":null,"after":{"order_id":10004,"order_date":"2020-07-31 15:22:00","customer_name":"Jark","price":29.71000,"product_id":104,"order_status":true}}""",
      """{"op":"d","ts_ms":6,"before":{"order_id":10004,"order_date":"2020-07-31 15:22:00","customer_name":"Jark","price":29.71000,"product_id":104,"order_status":true},"after":null}"""))

    // demo_6.md:186-237 with the kafka debezium sink swapped for memory
    new ScriptRunner(spark, batchMode = true).run(
      s"""set table.exec.source.cdc-events-duplicate = true;
         |CREATE TABLE orders (
         |  order_id INT,
         |  order_date TIMESTAMP(0),
         |  customer_name STRING,
         |  price DECIMAL(10, 5),
         |  product_id INT,
         |  order_status BOOLEAN,
         |  PRIMARY KEY (order_id) NOT ENFORCED
         |) WITH (
         |  'connector' = 'mysql-cdc', 'changelog-path' = '$cl'
         |);
         |CREATE TABLE kafka_gmv (
         |  day_str STRING,
         |  gmv DECIMAL(10, 5),
         |  PRIMARY KEY (day_str) NOT ENFORCED
         |) WITH ('connector' = 'memory');
         |INSERT INTO kafka_gmv
         |SELECT DATE_FORMAT(order_date, 'yyyy-MM-dd') as day_str,
         |  SUM(price) as gmv
         |FROM orders
         |WHERE order_status = true
         |GROUP BY DATE_FORMAT(order_date, 'yyyy-MM-dd');
         |""".stripMargin)

    val out = spark.table("kafka_gmv_out").collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue()))
      .sortBy(_._1).toSeq
    // 10004 was inserted then deleted; 10001 flipped to true by the update
    assert(out == Seq(("2020-07-30", 65.5), ("2020-07-31", 25.25)))
  }

  test("demo_6 §2.1: three-way CDC join -> enriched orders (ES shape)") {
    def envC(ts: Int, after: String) =
      s"""{"op":"c","ts_ms":$ts,"before":null,"after":$after}"""
    val pDir = Files.createTempDirectory("demo6_p")
    writeLines(pDir, "binlog.json", Seq(
      envC(1, """{"id":101,"name":"scooter","description":"small 2-wheel scooter"}"""),
      envC(2, """{"id":102,"name":"car battery","description":"12V car battery"}""")))
    val oDir = Files.createTempDirectory("demo6_o")
    writeLines(oDir, "binlog.json", Seq(
      envC(1, """{"order_id":10001,"order_date":"2020-07-30 10:08:22","customer_name":"Jark","price":50.50000,"product_id":102,"order_status":false}"""),
      envC(2, """{"order_id":10002,"order_date":"2020-07-30 10:11:09","customer_name":"Sally","price":15.00000,"product_id":101,"order_status":false}""")))
    val sDir = Files.createTempDirectory("demo6_s")
    writeLines(sDir, "binlog.json", Seq(
      envC(1, """{"shipment_id":1001,"order_id":10001,"origin":"Beijing","destination":"Shanghai","is_arrived":false}""")))

    // demo_6.md:87-158 with mysql-cdc changelog replay and the
    // elasticsearch-7 sink landing in a memory table (no HTTP here;
    // the ES bulk payload path is pinned by EsBulkSpec)
    new ScriptRunner(spark, batchMode = true).run(
      s"""CREATE TABLE products (
         |  id INT, name STRING, description STRING,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('connector' = 'mysql-cdc', 'changelog-path' = '$pDir');
         |CREATE TABLE orders (
         |  order_id INT, order_date TIMESTAMP(0), customer_name STRING,
         |  price DECIMAL(10, 5), product_id INT, order_status BOOLEAN,
         |  PRIMARY KEY (order_id) NOT ENFORCED
         |) WITH ('connector' = 'mysql-cdc', 'changelog-path' = '$oDir');
         |CREATE TABLE shipments (
         |  shipment_id INT, order_id INT, origin STRING,
         |  destination STRING, is_arrived BOOLEAN,
         |  PRIMARY KEY (shipment_id) NOT ENFORCED
         |) WITH ('connector' = 'mysql-cdc', 'changelog-path' = '$sDir');
         |CREATE TABLE enriched_orders (
         |  order_id INT, order_date TIMESTAMP(0), customer_name STRING,
         |  price DECIMAL(10, 5), product_id INT, order_status BOOLEAN,
         |  product_name STRING, product_description STRING,
         |  shipment_id INT, origin STRING, destination STRING,
         |  is_arrived BOOLEAN,
         |  PRIMARY KEY (order_id) NOT ENFORCED
         |) WITH ('connector' = 'memory');
         |INSERT INTO enriched_orders
         |SELECT o.*, p.name, p.description, s.shipment_id, s.origin,
         |  s.destination, s.is_arrived
         |FROM orders AS o
         |LEFT JOIN products AS p ON o.product_id = p.id
         |LEFT JOIN shipments AS s ON o.order_id = s.order_id;
         |""".stripMargin)

    val out = spark.table("enriched_orders_out")
    assert(out.columns.toSeq.take(3) ==
      Seq("order_id", "order_date", "customer_name"))
    val rows = out.collect().map(r =>
      (r.getInt(0), r.getString(6), Option(r.get(8)))).sortBy(_._1).toSeq
    assert(rows == Seq(
      (10001, "car battery", Some(1001)),  // shipment matched
      (10002, "scooter", None)))           // no shipment -> NULLs
  }
}
