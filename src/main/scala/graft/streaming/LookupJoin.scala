package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** TTL-cached lookup dim for the SQL-gate path: the reference's
  * `'lookup.cache.ttl'` / `'lookup.cache.max-rows'` options on a JDBC
  * dim table (`/root/reference/docs/sql_demo/demo_3.md:66-78`), applied
  * at the Spark-cache layer so they work in both execution shapes the
  * gate has — batch statements and streaming queries (whose plan is
  * fixed at start).
  *
  * Mechanism: the dim DataFrame is `persist()`ed, so micro-batches and
  * repeated statements read the cached snapshot instead of re-scanning
  * the database per batch (the JDBC V1 relation re-runs its query on
  * every physical scan otherwise). When the TTL lapses,
  * [[maybeRefresh]] (driven by the runner's daemon scheduler) drops and
  * re-arms the cache; the next scan transparently re-reads the source —
  * Flink's cache-TTL semantics in micro-batch form, without freezing a
  * collected snapshot into the plan. `maxRows` fail-fasts at
  * registration rather than letting an unexpectedly large dim fill
  * executor memory (the cache == the whole dim under snapshot
  * semantics, so the cache bound IS a dim bound here; the keyed
  * point-query path for huge dims is [[JdbcKeyedLookup]]).
  */
final class TtlCachedDim(private[graft] val df: DataFrame, ttlMs: Long,
    maxRows: Long) {
  @volatile private var loadedAt = System.currentTimeMillis()
  @volatile private var nRefreshes = 0L
  @volatile private var released = false

  df.persist()
  private val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
  // a dim that fails registration is never tracked by its runner, so
  // its cache entry must go here or nothing ever releases it
  try require(df.limit(probe).count() <= maxRows,
    s"lookup dim exceeds 'lookup.cache.max-rows' = $maxRows")
  catch { case e: Throwable => df.unpersist(blocking = false); throw e }

  @volatile private var refreshError: Option[String] = None

  /** Drop + re-arm the cache when the TTL lapsed (cheap no-op before
    * that); the NEXT scan of the dim re-reads the database. The
    * `max-rows` bound is RE-checked on every refresh — the dim may have
    * grown past it since registration, and re-caching it unchecked
    * would fill executor memory exactly as the bound exists to prevent.
    * On violation the dim stays UNcached (scans fall through to the
    * source: correct, just slower) and the error is kept in
    * [[lastRefreshError]] — the refresh scheduler swallows exceptions,
    * so throwing here would vanish silently.
    */
  def maybeRefresh(): Unit =
    if (!released && System.currentTimeMillis() - loadedAt >= ttlMs) synchronized {
      if (!released && System.currentTimeMillis() - loadedAt >= ttlMs) {
        df.unpersist(blocking = false)
        if (df.limit(probe).count() > maxRows)
          refreshError = Some(
            s"lookup dim grew past 'lookup.cache.max-rows' = $maxRows " +
              "on refresh; serving uncached (route it to the keyed " +
              "point-query path via 'lookup.cache.strategy' = 'keyed')")
        else {
          df.persist()
          refreshError = None
        }
        loadedAt = System.currentTimeMillis()
        nRefreshes += 1
      }
    }

  def refreshCount: Long = nRefreshes

  /** Set when the last TTL refresh found the dim over the cache bound. */
  def lastRefreshError: Option[String] = refreshError

  /** Release the cached blocks for good (runner shutdown): a refresh
    * already running finishes first, and none re-caches the dim after.
    */
  def release(): Unit = synchronized {
    released = true
    df.unpersist(blocking = false)
    ()
  }
}

/** Observable counters of a [[JdbcKeyedLookup]] — the spec's proof that
  * only missing keys ever reach the database and the cache bound holds.
  */
final case class LookupStats(probedKeys: Long, fetchedKeys: Long,
    cacheHits: Long, evictions: Long, retries: Long)

/** Keyed point-query lookup against a JDBC dim table through a bounded
  * LRU + TTL cache — the reference's lookup-join contract
  * (`/root/reference/docs/sql_demo/demo_3.md:66-78`:
  * `lookup.cache.max-rows`, `lookup.cache.ttl`, `lookup.max-retries`),
  * serving dims too large for [[TtlCachedDim]]'s whole-table cache (per
  * micro-batch cost is O(distinct probe keys), independent of dim size).
  *
  * Per batch of probe keys: cache hits (within TTL) are served locally;
  * only the missing keys are fetched, chunked into
  * `WHERE k IN (?,…,?)` prepared statements — never `SELECT *` of the
  * table. Missing keys cache an empty row list (negative caching,
  * Flink's `lookup.cache.caching-missing-key=true` default), so a key
  * absent from the dim is probed once per TTL, not once per batch. The
  * LRU evicts by total cached ROWS (a negative entry counts 1), the
  * `max-rows` unit. Fetches retry `maxRetries` times with a fresh
  * connection, the `lookup.max-retries` behavior.
  *
  * Scale: the cache lives on the calling JVM. The gate's call sites
  * ([[LookupJoin.enrichKeyedPartitions]], [[LookupJoin.dimSlice]]) run
  * it inside `mapPartitions`, one shared instance per executor JVM
  * ([[ExecutorLookupCaches]]), so probe keys never pass through the
  * driver.
  */
final class JdbcKeyedLookup(
    url: String,
    connProps: Map[String, String],
    table: String,
    val keyCol: String,
    val schema: StructType,
    cacheMaxRows: Long,
    cacheTtlMs: Long,
    maxRetries: Int = 3,
    inListChunk: Int = 500) {

  require(schema.fieldNames.contains(keyCol),
    s"lookup key $keyCol not in dim schema ${schema.fieldNames.mkString(",")}")
  private val keyOrd = schema.fieldIndex(keyCol)

  private final case class Entry(rows: Seq[Row], at: Long) {
    def weight: Int = math.max(1, rows.size)
  }

  // accessOrder=true → iteration order is least-recently-used first;
  // eviction below keeps the total cached ROW count under cacheMaxRows
  private val lru = new java.util.LinkedHashMap[Any, Entry](64, 0.75f, true)
  private var cachedRows = 0L
  private var nProbed, nFetched, nHits, nEvicted, nRetries = 0L

  def stats: LookupStats = synchronized {
    LookupStats(nProbed, nFetched, nHits, nEvicted, nRetries)
  }

  /** Total rows currently cached (negative entries count 1) — always
    * ≤ cacheMaxRows after every call, modulo one oversized single entry.
    */
  def cachedRowCount: Long = synchronized { cachedRows }

  // per-key result holder of an in-progress fetch; all fields guarded
  // by the cache monitor. Waiters read the claimant's rows from HERE,
  // never back through the LRU: an entry evicted (or TTL-expired)
  // between the claimant's install and the waiter's wake-up must not
  // send the waiter back to the database — the fetch-once-per-key
  // contract holds even under eviction pressure (cacheMaxRows smaller
  // than a concurrent probe wave).
  private final class Claim {
    var done = false
    var failed = false // claimant's fetch threw; a waiter re-claims
    var rows: Seq[Row] = Nil
  }

  // keys some thread is currently fetching; guarded by the monitor.
  // Other threads needing one of these keys WAIT for the claim to
  // complete instead of duplicating the point query — the JVM-shared
  // cache's fetch-once-per-key contract (fetchedKeys == distinct
  // probed keys) survives concurrency.
  private val inFlight = scala.collection.mutable.Map[Any, Claim]()

  /** Resolve `keys` → dim rows (empty Seq = key absent from the dim).
    * Thread-safe; only keys missing from the cache touch the database,
    * and each missing key is fetched by exactly ONE thread.
    *
    * The monitor guards only cache + in-flight bookkeeping — the JDBC
    * round-trips run OUTSIDE it. One cache serves every task thread on
    * the executor ([[ExecutorLookupCaches]]); holding the lock across
    * the fetch would serialize all of them through one monitor during
    * database I/O, reducing the distributed slice path to the serial
    * driver loop it replaced. Instead each thread claims the unclaimed
    * misses, fetches them unlocked, installs under the monitor, and
    * waits (releasing the monitor) for keys claimed by other threads;
    * if a claimant's fetch fails, its claims are released and a waiter
    * re-claims on its next pass.
    */
  def lookup(keys: Seq[Any]): Map[Any, Seq[Row]] = {
    val results = scala.collection.mutable.Map[Any, Seq[Row]]()
    synchronized { nProbed += keys.size }
    var pending: Seq[Any] = keys.distinct
    while (pending.nonEmpty) {
      val now = System.currentTimeMillis()
      val mine = scala.collection.mutable.Buffer[(Any, Claim)]()
      val theirs = scala.collection.mutable.Buffer[(Any, Claim)]()
      synchronized {
        pending.foreach { k =>
          val e = lru.get(k)
          if (e != null && now - e.at < cacheTtlMs) {
            nHits += 1
            results(k) = e.rows
          } else inFlight.get(k) match {
            case Some(c) => theirs += ((k, c))
            case None =>
              val c = new Claim
              inFlight(k) = c
              mine += ((k, c))
          }
        }
      }
      if (mine.nonEmpty) {
        val fetched =
          try fetchKeys(mine.map(_._1).toSeq).groupBy(_.get(keyOrd))
          catch {
            case t: Throwable =>
              synchronized {
                mine.foreach { case (k, c) =>
                  c.done = true; c.failed = true; inFlight -= k
                }
                notifyAll()
              }
              throw t
          }
        // entries are stamped AFTER the fetch completes: a pre-fetch
        // stamp ages the entry by the fetch latency, shaving real TTL
        val installAt = System.currentTimeMillis()
        synchronized {
          mine.foreach { case (k, c) =>
            nFetched += 1
            val rows = fetched.getOrElse(k, Nil)
            put(k, Entry(rows, installAt))
            results(k) = rows
            c.done = true
            c.rows = rows
            inFlight -= k
          }
          notifyAll()
        }
      }
      // block until the other claimants have completed (or failed) our
      // remaining keys, then take their rows straight from the claim —
      // NOT from the LRU, whose entry may already be evicted. Only a
      // FAILED claim sends a key back to pending for re-claiming.
      pending =
        if (theirs.isEmpty) Nil
        else synchronized {
          while (theirs.exists(!_._2.done)) wait()
          theirs.flatMap { case (k, c) =>
            if (c.failed) Some(k)
            else {
              nHits += 1
              results(k) = c.rows
              None
            }
          }.toSeq
        }
    }
    results.toMap
  }

  private def put(k: Any, e: Entry): Unit = {
    val old = lru.put(k, e)
    cachedRows += e.weight - (if (old == null) 0 else old.weight)
    val it = lru.entrySet().iterator()
    while (cachedRows > cacheMaxRows && it.hasNext) {
      val eldest = it.next()
      if (eldest.getKey != k) { // never evict the entry just written
        cachedRows -= eldest.getValue.weight
        it.remove()
        nEvicted += 1
      }
    }
  }

  private def fetchKeys(keys: Seq[Any]): Seq[Row] = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try return doFetch(keys)
      catch {
        case t: java.sql.SQLException =>
          last = t; attempt += 1
          if (attempt <= maxRetries) synchronized { nRetries += 1 }
      }
    }
    throw new RuntimeException(
      s"lookup fetch failed after $maxRetries retries", last)
  }

  private def connect(): java.sql.Connection = {
    connProps.get("driver").foreach(Class.forName)
    val p = new java.util.Properties()
    connProps.get("username").foreach(p.setProperty("user", _))
    connProps.get("password").foreach(p.setProperty("password", _))
    java.sql.DriverManager.getConnection(url, p)
  }

  private def doFetch(keys: Seq[Any]): Seq[Row] = {
    val c = connect()
    try {
      val buf = scala.collection.mutable.ArrayBuffer[Row]()
      // ONE prepared statement reused across same-size chunks (all but
      // the last): the databases that serve lookup dims pay a real
      // parse/plan cost per distinct IN-list arity, so re-preparing per
      // chunk multiplies fetch latency for large probe sets
      var ps: java.sql.PreparedStatement = null
      var psSize = -1
      try {
        keys.grouped(inListChunk).foreach { chunk =>
          if (chunk.size != psSize) {
            if (ps != null) ps.close()
            val sql =
              s"SELECT ${schema.fieldNames.map(quote).mkString(", ")} " +
                s"FROM ${quoteTable(table)} WHERE ${quote(keyCol)} IN " +
                chunk.map(_ => "?").mkString("(", ", ", ")")
            ps = c.prepareStatement(sql)
            psSize = chunk.size
          }
          chunk.zipWithIndex.foreach { case (k, i) => ps.setObject(i + 1, k) }
          val rs = ps.executeQuery()
          while (rs.next()) buf += readRow(rs)
        }
      } finally if (ps != null) ps.close()
      buf.toSeq
    } finally c.close()
  }

  // UNQUOTED on purpose: the charset check blocks injection, and an
  // unquoted identifier gets the database's own case folding (Derby →
  // upper, MySQL → as-is) — resolving exactly like the identifier does
  // in the user's own DDL, which is what 'table-name' carries.
  private def quote(id: String): String = {
    require(id.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"illegal identifier for lookup SQL: $id")
    id
  }

  // 'table-name' may be schema-qualified ('APP.dim' works on the
  // snapshot path via dbtable, and the gate auto-routes the same spec
  // here when the dim outgrows max-rows) — validate each dot-separated
  // segment rather than rejecting the qualifier
  private def quoteTable(id: String): String = {
    val parts = id.split('.')
    require(parts.nonEmpty && parts.forall(p =>
      p.nonEmpty && p.forall(ch => ch.isLetterOrDigit || ch == '_')),
      s"illegal table identifier for lookup SQL: $id")
    id
  }

  private def readRow(rs: java.sql.ResultSet): Row = {
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val v: Any = schema(i).dataType match {
        case LongType      => rs.getLong(i + 1)
        case IntegerType   => rs.getInt(i + 1)
        case ShortType     => rs.getShort(i + 1)
        case ByteType      => rs.getByte(i + 1)
        case DoubleType    => rs.getDouble(i + 1)
        case FloatType     => rs.getFloat(i + 1)
        case BooleanType   => rs.getBoolean(i + 1)
        case StringType    => rs.getString(i + 1)
        case _: DecimalType => rs.getBigDecimal(i + 1)
        case TimestampType => rs.getTimestamp(i + 1)
        case DateType      => rs.getDate(i + 1)
        case BinaryType    => rs.getBytes(i + 1)
        case dt => throw new IllegalArgumentException(
          s"unsupported lookup dim type $dt for ${schema(i).name}")
      }
      vals(i) = if (rs.wasNull()) null else v
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
  }
}

/** Executor-local [[JdbcKeyedLookup]] registry for the `mapPartitions`
  * call site: one cache per (url, table, key) per JVM, shared by every
  * partition that executor processes — on a 1000-executor cluster each
  * executor holds its own bounded LRU and probes only the keys its
  * partitions see, with no driver round-trip. The registry lives in a
  * JVM singleton because task closures are deserialized fresh per task;
  * a cache captured in the closure would never be shared.
  */
object ExecutorLookupCaches {
  /** Registry-level bound: past SoftCap instances, the least-recently-
    * USED cache is evicted — but only once it has sat IDLE for
    * `idleEvictMs`, because evicting a cache some streaming query still
    * probes would silently break the fetch-once-per-key contract (the
    * old instance keeps serving in-flight tasks while new tasks build a
    * fresh empty one: duplicate point queries, stats split across two
    * instances). A live cache is touched every micro-batch, so only
    * genuinely abandoned tuples (a test suite's per-case databases, a
    * platform process cycling jobs) age out. HardCap is the runaway
    * backstop: past it the eldest goes regardless — at that point the
    * JVM is registering dims faster than any legitimate workload.
    */
  private val SoftCap = 64
  private val HardCap = 512
  @volatile private[graft] var idleEvictMs: Long = 10 * 60 * 1000L

  private final class Slot(val lk: JdbcKeyedLookup) {
    @volatile var lastUsed: Long = System.currentTimeMillis()
  }

  // accessOrder=true → LRU iteration; all access synchronized on `caches`
  private val caches = new java.util.LinkedHashMap[
    (String, String, String, String), Slot](16, 0.75f, true)

  /** Drain evictable caches, LRU-first; caller holds the monitor.
    * Iteration order is least-recently-touched first and `lastUsed`
    * moves with touch order, so the scan can stop at the first
    * still-active entry (everything after it is fresher) — unless the
    * registry has blown past HardCap, where the eldest goes regardless.
    */
  private def evictIdle(): Unit = {
    val now = System.currentTimeMillis()
    val it = caches.entrySet().iterator()
    var stop = false
    while (!stop && caches.size() > SoftCap && it.hasNext) {
      val e = it.next()
      if (caches.size() > HardCap || now - e.getValue.lastUsed >= idleEvictMs)
        it.remove()
      else stop = true
    }
  }

  /** One cache per (url, table, key, fingerprint) per JVM. The
    * fingerprint folds in the dim schema and cache config: two call
    * sites that disagree on either get SEPARATE caches — a shared cache
    * whose Rows carry a different field layout would emit values under
    * the wrong column names (or throw on width) with nothing naming the
    * real cause.
    */
  def get(url: String, table: String, keyCol: String, fingerprint: String)(
      mk: => JdbcKeyedLookup): JdbcKeyedLookup = caches.synchronized {
    val key = (url, table, keyCol, fingerprint)
    val existing = caches.get(key)
    if (existing != null) {
      existing.lastUsed = System.currentTimeMillis()
      existing.lk
    } else {
      val slot = new Slot(mk)
      caches.put(key, slot)
      evictIdle()
      slot.lk
    }
  }

  /** Aggregate stats across this JVM's caches (in local mode: all
    * partitions) — the spec's proof that partitions share the cache.
    * Keyed (url, table, keyCol): distinct fingerprints are distinct
    * caches, so callers filter on the first three parts.
    */
  def stats: Map[(String, String, String, String), LookupStats] =
    caches.synchronized {
      val b = Map.newBuilder[(String, String, String, String), LookupStats]
      caches.forEach((k, s) => b += k -> s.lk.stats)
      b.result()
    }

  /** Drop every cache of one (url, table) — called by a closing
    * [[graft.sqlgate.ScriptRunner]] for the dims it registered, so a
    * NEW runner against a rebuilt dim table reads fresh rows instead of
    * serving the previous runner's entries until TTL. Complete in local
    * mode (executors share this JVM); on a cluster this clears the
    * driver's instance only and executor caches age out by TTL —
    * exactly the staleness window `lookup.cache.ttl` already grants.
    */
  def invalidate(url: String, table: String): Unit = caches.synchronized {
    val it = caches.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1 == url && k._2 == table) it.remove()
    }
  }

  def clear(): Unit = caches.synchronized { caches.clear() }

  private[graft] def size: Int = caches.synchronized { caches.size() }
}

object LookupJoin {

  /** Cache-identity fingerprint: folds the dim schema and cache config
    * so call sites that disagree on either get separate executor caches
    * (see [[ExecutorLookupCaches.get]]). Shared by every executor-side
    * entry point so the gate's batch slice, the gate's streaming
    * enrichment, and the Scala API all hit ONE cache per (url, table,
    * key, config) per JVM.
    */
  private[graft] def cacheFingerprint(dimSchema: StructType,
      cacheMaxRows: Long, cacheTtlMs: Long, inListChunk: Int = 500): String =
    dimSchema.fields
      .map(f => s"${f.name}:${f.dataType.sql}").mkString(",") +
      s"|$cacheMaxRows|$cacheTtlMs|$inListChunk"

  /** Distributed key-covering dim slice — the gate's batch keyed-lookup
    * shape with NO driver materialization: `keys` (one column, already
    * cast to the dim key's type) are made distinct, then resolved to dim
    * rows inside `mapPartitions` through the per-executor LRU+TTL
    * caches ([[ExecutorLookupCaches]]); each executor's database load is
    * its own cache misses, chunked into bounded `IN (…)` point queries.
    *
    * Multiplicity is EXACT: input keys are distinct and every dim row
    * holds one value in `dimKey`, so a dim row whose key is probed
    * appears in the slice exactly as many times as it appears in the
    * table — a dim with genuine duplicate rows joins with full
    * multiplicity, unlike a value-dedup of collected rows.
    */
  def dimSlice(keys: DataFrame, url: String, connProps: Map[String, String],
      table: String, dimKey: String, dimSchema: StructType,
      cacheMaxRows: Long, cacheTtlMs: Long, maxRetries: Int = 3,
      chunkKeys: Int = 1000, inListChunk: Int = 500): DataFrame = {
    require(keys.schema.length == 1,
      s"dimSlice expects a single key column, got ${keys.schema.simpleString}")
    require(keys.schema.head.dataType == dimSchema(dimKey).dataType,
      s"dimSlice: probe keys are ${keys.schema.head.dataType.sql} but dim " +
        s"key '$dimKey' is ${dimSchema(dimKey).dataType.sql} — cast the " +
        "probe side to the dim key type first (runtime equality)")
    val fingerprint =
      cacheFingerprint(dimSchema, cacheMaxRows, cacheTtlMs, inListChunk)
    keys.where(keys.columns.map(c => s"`$c` IS NOT NULL").mkString(" AND "))
      .distinct()
      .mapPartitions { it =>
        val lk = ExecutorLookupCaches.get(url, table, dimKey, fingerprint)(
          new JdbcKeyedLookup(url, connProps, table, dimKey, dimSchema,
            cacheMaxRows, cacheTtlMs, maxRetries, inListChunk))
        it.grouped(chunkKeys).flatMap { chunk =>
          lk.lookup(chunk.map(_.get(0))).values.flatten
        }
      }(org.apache.spark.sql.Encoders.row(dimSchema))
  }

  /** The PER-EXECUTOR keyed-lookup call site — the cluster shape
    * [[JdbcKeyedLookup]]'s scale note promises: the lookup runs inside
    * `mapPartitions`, each executor JVM holding its own bounded
    * LRU+TTL cache ([[ExecutorLookupCaches]]), so probe keys never
    * funnel through the driver and per-executor database load is
    * O(that executor's cache misses). Rows are processed in
    * `chunkKeys`-sized slices, one batched `IN (…)` resolve per slice.
    *
    * Join semantics: 'inner' drops unmatched stream rows, 'left'
    * null-extends them; a dim key colliding with the stream key name is
    * emitted once (stream side wins). Usable on a batch DataFrame
    * directly or per micro-batch in `foreachBatch`.
    */
  def enrichKeyedPartitions(
      url: String, connProps: Map[String, String], table: String,
      streamKey: String, dimKey: String, dimSchema: StructType,
      how: String, cacheMaxRows: Long, cacheTtlMs: Long,
      maxRetries: Int = 3, chunkKeys: Int = 1000, inListChunk: Int = 500)(
      batch: DataFrame): DataFrame = {
    val leftJoin = how == "left" || how == "left_outer"
    require(leftJoin || how == "inner",
      s"enrichKeyedPartitions supports inner/left joins, got '$how'")
    val inSchema = batch.schema
    // probe keys are compared against JDBC-read values by runtime
    // equality (resolved.getOrElse): an Integer stream key never equals
    // a Long dim key, so a type mismatch would silently empty the join
    // and negative-cache every key — reject it loudly instead
    require(inSchema(streamKey).dataType == dimSchema(dimKey).dataType,
      s"enrichKeyedPartitions: stream key '$streamKey' is " +
        s"${inSchema(streamKey).dataType.sql} but dim key '$dimKey' is " +
        s"${dimSchema(dimKey).dataType.sql} — probe values are matched " +
        "by runtime equality, so cast the stream side to the dim key " +
        "type first")
    val sameName = streamKey == dimKey
    // a left join null-extends unmatched rows, so every dim output
    // field must be nullable in the result schema regardless of how the
    // dim declared it (a non-nullable field would fail row validation
    // on exactly the rows the left join exists to keep)
    val dimOutFields = dimSchema.fields.toSeq
      .filterNot(f => sameName && f.name == dimKey)
      .map(f => if (leftJoin) f.copy(nullable = true) else f)
    val outSchema = StructType(inSchema.fields.toSeq ++ dimOutFields)
    val keyIdx = inSchema.fieldIndex(streamKey)
    val dimKeyIdx = dimSchema.fieldIndex(dimKey)
    val dimOutIdx: Seq[Int] = dimSchema.indices
      .filterNot(i => sameName && i == dimKeyIdx)
    val fingerprint =
      cacheFingerprint(dimSchema, cacheMaxRows, cacheTtlMs, inListChunk)
    batch.mapPartitions { it =>
      val lk = ExecutorLookupCaches.get(url, table, dimKey, fingerprint)(
        new JdbcKeyedLookup(url, connProps, table, dimKey, dimSchema,
          cacheMaxRows, cacheTtlMs, maxRetries, inListChunk))
      it.grouped(chunkKeys).flatMap { chunk =>
        val keys = chunk.iterator.map(_.get(keyIdx))
          .filter(_ != null).toSeq.distinct
        val resolved = lk.lookup(keys)
        chunk.iterator.flatMap { row =>
          val k = row.get(keyIdx)
          val matches =
            if (k == null) Nil else resolved.getOrElse(k, Nil)
          if (matches.isEmpty) {
            if (leftJoin) Iterator.single(Row.fromSeq(
              row.toSeq ++ dimOutIdx.map(_ => null)))
            else Iterator.empty
          } else matches.iterator.map(d =>
            Row.fromSeq(row.toSeq ++ dimOutIdx.map(d.get)))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
