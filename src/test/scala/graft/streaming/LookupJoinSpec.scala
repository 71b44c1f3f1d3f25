package graft.streaming

import graft.SparkSpec
import java.sql.DriverManager
import org.apache.spark.sql.functions.{concat, lit}
import org.apache.spark.sql.types._

/** Temporal lookup join: the snapshot dim's cache bound, and the keyed
  * point-query lookup (the large-dim path) with its bounded, TTL-driven
  * per-executor cache (demo_3 lookup semantics).
  */
class LookupJoinSpec extends SparkSpec {

  private val dimSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def derbyDim(db: String, rows: Seq[(Long, String)]): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      // unquoted, like a reference user's MySQL DDL: the lookup also
      // emits unquoted identifiers, so both fold identically (Derby →
      // upper case) and 'table-name' resolves like the user's own SQL
      st.execute("CREATE TABLE dim (id BIGINT PRIMARY KEY, " +
        "name VARCHAR(64))")
      rows.foreach { case (i, n) =>
        st.execute(s"INSERT INTO dim VALUES ($i, '$n')")
      }
    } finally c.close()
    url
  }

  test("cache bound: oversized dim fails fast instead of broadcasting") {
    // an explicit snapshot strategy keeps the whole dim in the cache, so
    // a dim over 'lookup.cache.max-rows' fails when the script registers
    // it instead of routing to point queries
    val url = derbyDim("lkp_cap", (0L until 100L).map(i => i -> s"n$i"))
    val facts = java.nio.file.Files.createTempDirectory("lkp_cap_src")
    java.nio.file.Files.write(facts.resolve("part-0.json"),
      """{"id": 7}""".getBytes("UTF-8"))
    val runner = new graft.sqlgate.ScriptRunner(spark, batchMode = true)
    try {
      val e = intercept[IllegalArgumentException] {
        runner.run(
          s"""CREATE TABLE cap_facts (id BIGINT) WITH (
             |  'connector' = 'filesystem', 'path' = '$facts',
             |  'format' = 'json');
             |CREATE TABLE cap_dim (id BIGINT, name VARCHAR) WITH (
             |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'dim',
             |  'lookup.cache.strategy' = 'snapshot',
             |  'lookup.cache.max-rows' = '10');
             |CREATE TABLE cap_sink (id BIGINT, name STRING)
             |  WITH ('connector' = 'memory');
             |INSERT INTO cap_sink SELECT f.id, d.name FROM cap_facts f
             |JOIN cap_dim FOR SYSTEM_TIME AS OF f.id AS d ON f.id = d.id;
             |""".stripMargin)
      }
      assert(e.getMessage.contains("'lookup.cache.max-rows' = 10"),
        e.getMessage)
      assert(runner.snapshotDim("cap_dim").isEmpty)
    } finally runner.close()
  }

  test("a dim that fails its max-rows check leaves no cached plan behind") {
    val session = spark.newSession()
    val cache = session.sharedState.cacheManager
    // the cache manager is JVM-wide: start from an empty one
    session.catalog.clearCache()
    val url = derbyDim("lkp_leak", (0L until 20L).map(i => i -> s"n$i"))
    val runner = new graft.sqlgate.ScriptRunner(session, batchMode = true)
    try {
      intercept[IllegalArgumentException] {
        runner.run(
          s"""CREATE TABLE leak_dim (id BIGINT, name VARCHAR) WITH (
             |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'dim',
             |  'lookup.cache.strategy' = 'snapshot',
             |  'lookup.cache.max-rows' = '5');
             |CREATE TABLE leak_sink (id BIGINT, name STRING)
             |  WITH ('connector' = 'memory');
             |INSERT INTO leak_sink SELECT id, name FROM leak_dim;
             |""".stripMargin)
      }
    } finally runner.close()
    assert(cache.isEmpty, "the failed dim's plan is still cached")
  }

  test("keyed lookup fetches ONLY missing keys; hits and negatives cached") {
    val url = derbyDim("lkp1", Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val lk = new JdbcKeyedLookup(url, Map.empty, "dim", "id", dimSchema,
      cacheMaxRows = 100L, cacheTtlMs = 3600000L)
    val r1 = lk.lookup(Seq(1L, 2L))
    assert(r1(1L).head.getString(1) == "a" && r1(2L).head.getString(1) == "b")
    assert(lk.stats.fetchedKeys == 2 && lk.stats.cacheHits == 0)

    // second batch: 1 is a hit; only 3 and the absent 99 are fetched
    val r2 = lk.lookup(Seq(1L, 3L, 99L))
    assert(r2(3L).head.getString(1) == "c" && r2(99L).isEmpty)
    assert(lk.stats.fetchedKeys == 4, "only the 2 missing keys re-probed")
    assert(lk.stats.cacheHits == 1)

    // negative caching: 99 does not re-probe within TTL
    val r3 = lk.lookup(Seq(99L))
    assert(r3(99L).isEmpty && lk.stats.fetchedKeys == 4)
    assert(lk.stats.cacheHits == 2)
  }

  test("keyed lookup LRU bound holds and evicts least-recently-used") {
    val url = derbyDim("lkp2", (1L to 10L).map(i => i -> s"v$i"))
    val lk = new JdbcKeyedLookup(url, Map.empty, "dim", "id", dimSchema,
      cacheMaxRows = 3L, cacheTtlMs = 3600000L)
    lk.lookup(Seq(1L, 2L, 3L))
    assert(lk.cachedRowCount == 3)
    lk.lookup(Seq(1L)) // refresh 1 → 2 becomes eldest
    lk.lookup(Seq(4L)) // evicts 2
    assert(lk.cachedRowCount <= 3 && lk.stats.evictions >= 1)
    val before = lk.stats.fetchedKeys
    lk.lookup(Seq(1L)) // still cached
    assert(lk.stats.fetchedKeys == before)
    lk.lookup(Seq(2L)) // was evicted → re-fetch
    assert(lk.stats.fetchedKeys == before + 1)
  }

  test("keyed lookup TTL expiry re-probes; retries surface after exhaustion") {
    val url = derbyDim("lkp3", Seq(1L -> "old"))
    val lk = new JdbcKeyedLookup(url, Map.empty, "dim", "id", dimSchema,
      cacheMaxRows = 10L, cacheTtlMs = 0L) // ttl 0 → nothing stays fresh
    lk.lookup(Seq(1L)); lk.lookup(Seq(1L))
    assert(lk.stats.fetchedKeys == 2 && lk.stats.cacheHits == 0)

    val bad = new JdbcKeyedLookup("jdbc:derby:memory:does_not_exist",
      Map.empty, "dim", "id", dimSchema, 10L, 0L, maxRetries = 2)
    val e = intercept[RuntimeException] { bad.lookup(Seq(1L)) }
    assert(e.getMessage.contains("retries") && bad.stats.retries == 2)
  }

  test("enrichKeyedPartitions: per-executor lookup, cache shared across partitions") {
    import spark.implicits._
    val url = derbyDim("lkp5",
      (0L until 10L).map(i => i -> s"name_$i"))
    // 200 rows over 11 distinct keys (one absent from the dim) spread
    // across 8 partitions — the per-executor call site must produce the
    // same rows the driver-side broadcast join would, while this JVM's
    // shared cache fetches each distinct key exactly once even though
    // every partition probes overlapping keys
    val batch = spark.range(200)
      .select(($"id" % 11).as("id"), concat(lit("/p"), $"id").as("page"))
      .repartition(8)
    ExecutorLookupCaches.clear()
    val enriched = LookupJoin.enrichKeyedPartitions(
      url, Map.empty, "dim", "id", "id", dimSchema, "left",
      cacheMaxRows = 100L, cacheTtlMs = 3600000L)(batch)
    val got = enriched.select("id", "page", "name")
      .as[(Long, String, String)].collect().toSet
    // reference: the plain broadcast-join path over the full dim
    val dimDf = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "dim").load()
    val want = batch.join(dimDf, Seq("id"), "left")
      .select("id", "page", "name")
      .as[(Long, String, String)].collect().toSet
    assert(got == want)
    assert(got.exists(_._3 == null), "key 10 is absent → null-extended")
    val st = ExecutorLookupCaches.stats.collectFirst {
      case ((u, t, k, _), s) if u == url && t == "dim" && k == "id" => s
    }.get
    // 8 partitions × overlapping keys, but one JVM-shared cache: each of
    // the 11 distinct keys (incl. the negative-cached miss) fetched once
    assert(st.fetchedKeys == 11, s"stats: $st")
    assert(st.probedKeys > 11, s"partitions must have re-probed: $st")
    assert(st.cacheHits == st.probedKeys - 11, s"stats: $st")
  }

  test("schema-qualified table-name works on the keyed point-query path") {
    val url = derbyDim("lkp8", Seq(5L -> "five"))
    val lk = new JdbcKeyedLookup(url, Map.empty, "APP.dim", "id",
      dimSchema, cacheMaxRows = 10L, cacheTtlMs = 3600000L)
    val got = lk.lookup(Seq(5L))
    assert(got(5L).head.getString(1) == "five")
  }

  test("TtlCachedDim re-checks max-rows on refresh; oversized stays uncached") {
    val url = derbyDim("lkp9", Seq(1L -> "a", 2L -> "b"))
    val df = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "dim").load()
    val dim = new TtlCachedDim(df, ttlMs = 0L, maxRows = 3L)
    assert(dim.lastRefreshError.isEmpty)
    // the dim grows past the bound between refreshes
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      (3L to 10L).foreach(i => st.execute(s"INSERT INTO dim VALUES ($i, 'x')"))
      Thread.sleep(5)
      dim.maybeRefresh()
      assert(dim.lastRefreshError.exists(_.contains("max-rows")))
      // back under the bound → the next refresh re-caches and clears it
      st.execute("DELETE FROM dim WHERE id >= 3")
      Thread.sleep(5)
      dim.maybeRefresh()
      assert(dim.lastRefreshError.isEmpty)
    } finally c.close()
    dim.release()
  }

  test("enrichKeyedPartitions rejects a stream/dim key type mismatch") {
    import spark.implicits._
    // an INT stream key probed against a BIGINT dim key would never
    // equal the JDBC-read Long by runtime equality — the join would
    // silently empty and negative-cache every key; it must fail loudly
    val url = derbyDim("lkp6", Seq(1L -> "one"))
    val batch = spark.range(3)
      .select($"id".cast("int").as("id"), lit("/p").as("page"))
    val e = intercept[IllegalArgumentException] {
      LookupJoin.enrichKeyedPartitions(
        url, Map.empty, "dim", "id", "id", dimSchema, "inner",
        cacheMaxRows = 10L, cacheTtlMs = 1000L)(batch)
    }
    assert(e.getMessage.contains("cast the stream side"))
  }

  test("cache registry evicts only IDLE caches past the soft cap, and " +
    "is invalidatable") {
    // a long-lived JVM registering dims against many distinct (url,
    // table) tuples — per-test in-memory databases, a platform process
    // cycling jobs — must not accumulate cache instances forever; but
    // an ACTIVE cache (touched every micro-batch) must never be evicted,
    // or in-flight tasks and new tasks would split across two instances
    // and silently re-fetch every key
    ExecutorLookupCaches.clear()
    def register(i: Int): Unit =
      ExecutorLookupCaches.get(s"jdbc:derby:memory:reg$i", "dim", "id",
        "fp")(new JdbcKeyedLookup(s"jdbc:derby:memory:reg$i", Map.empty,
        "dim", "id", dimSchema, cacheMaxRows = 10L, cacheTtlMs = 1000L))
    val savedIdle = ExecutorLookupCaches.idleEvictMs
    try {
      // all caches fresh (just touched) → NO eviction even past the
      // soft cap: activity protects them
      (0 until 80).foreach(register)
      assert(ExecutorLookupCaches.size == 80,
        s"active caches were evicted: ${ExecutorLookupCaches.size}")
      // with the idle threshold at zero every untouched cache is
      // evictable: the soft cap re-asserts itself on the next puts
      ExecutorLookupCaches.idleEvictMs = 0L
      (80 until 100).foreach(register)
      assert(ExecutorLookupCaches.size <= 65,
        s"registry grew to ${ExecutorLookupCaches.size}")
      // the least-recently-used tuples were the ones evicted
      assert(!ExecutorLookupCaches.stats.keySet
        .exists(_._1 == "jdbc:derby:memory:reg0"))
      assert(ExecutorLookupCaches.stats.keySet
        .exists(_._1 == "jdbc:derby:memory:reg99"))
      // invalidate drops every fingerprint of one (url, table)
      ExecutorLookupCaches.invalidate("jdbc:derby:memory:reg99", "dim")
      assert(!ExecutorLookupCaches.stats.keySet
        .exists(_._1 == "jdbc:derby:memory:reg99"))
      // the 512-instance hard backstop evicts even ACTIVE caches — a
      // JVM registering dims that fast is a runaway, not a workload
      ExecutorLookupCaches.idleEvictMs = Long.MaxValue
      (100 until 700).foreach(register)
      assert(ExecutorLookupCaches.size <= 512,
        s"hard cap breached: ${ExecutorLookupCaches.size}")
    } finally {
      ExecutorLookupCaches.idleEvictMs = savedIdle
      ExecutorLookupCaches.clear()
    }
  }

  test("lookup is correct under concurrent task threads; fetches do not " +
    "hold the cache monitor") {
    // one cache serves every task thread on an executor: 16 threads
    // race overlapping key ranges; results must be exact, the cache
    // bound must hold, and — though the fetch runs OUTSIDE the monitor
    // — the in-flight claims keep each distinct key fetched exactly
    // once across all racers.
    val url = derbyDim("lkpc", (1L to 50L).map(i => i -> s"v$i"))
    val lk = new JdbcKeyedLookup(url, Map.empty, "dim", "id", dimSchema,
      cacheMaxRows = 1000L, cacheTtlMs = 3600000L, inListChunk = 7)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val tasks = (0 until 16).map { t =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            val keys = ((t * 3) until (t * 3 + 20)).map(_.toLong % 60L)
            val r = lk.lookup(keys)
            keys.forall { k =>
              if (k >= 1L && k <= 50L)
                r(k).nonEmpty && r(k).head.getString(1) == s"v$k"
              else r(k).isEmpty
            }
          }
        })
      }
      assert(tasks.forall(_.get()), "a concurrent lookup returned wrong rows")
      val s = lk.stats
      assert(s.fetchedKeys == 60, s"stats: $s") // 60 distinct keys total
      assert(lk.cachedRowCount <= 1000L)
    } finally pool.shutdownNow()
  }

  test("a waiter is served from the claimant's fetch even when the " +
    "installed entry is instantly expired (fetch-once under pressure)") {
    // cacheTtlMs=0 is the harshest expiry/eviction pressure: every
    // installed entry is already expired when a waiter wakes. The
    // waiter must take the rows from the claimant's result holder, NOT
    // re-classify through the LRU — the old path would re-claim and
    // duplicate the point query (fetchedKeys > distinct probed keys).
    // A held Derby row lock keeps the claimant's fetch in flight while
    // the waiter queues, making the overlap deterministic.
    val url = derbyDim("lkpev", Seq(1L -> "a"))
    val lk = new JdbcKeyedLookup(url, Map.empty, "dim", "id", dimSchema,
      cacheMaxRows = 1000L, cacheTtlMs = 0L)
    val locker = DriverManager.getConnection(url)
    locker.setAutoCommit(false)
    locker.createStatement().execute(
      "UPDATE dim SET name = 'a2' WHERE id = 1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(
        new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
          def call() = lk.lookup(Seq(1L))(1L)
        })
      // claimant in flight (blocked on the row lock) before the waiter
      while (lk.stats.probedKeys < 1) Thread.sleep(10)
      Thread.sleep(200)
      val b = pool.submit(
        new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
          def call() = lk.lookup(Seq(1L))(1L)
        })
      while (lk.stats.probedKeys < 2) Thread.sleep(10)
      Thread.sleep(300) // waiter reaches the claim wait
      locker.commit() // release the lock; the claimant's fetch lands
      val tu = java.util.concurrent.TimeUnit.SECONDS
      assert(a.get(30, tu).head.getString(1) == "a2")
      assert(b.get(30, tu).head.getString(1) == "a2")
      assert(lk.stats.fetchedKeys == 1, s"waiter refetched: ${lk.stats}")
    } finally { pool.shutdownNow(); locker.close() }
  }
}
