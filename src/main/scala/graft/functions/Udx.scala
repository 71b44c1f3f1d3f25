package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** The user-function surface the reference exposes through
  * `CREATE FUNCTION name AS 'class'` + UDF jars (`SqlCommand.java:32-34`,
  * `docs/manual-sql.md:102-119`): scalar UDF, typed UDAF (Aggregator),
  * and table function (UDTF), with gate-level registration by class name.
  */
object Udx {

  /** Scalar UDF example mirroring the doc's `jsonHasKey` UDF
    * (`docs/manual-sql.md:112`): here string-normalizing.
    */
  val normalize: String => String = s =>
    if (s == null) null else s.trim.toLowerCase.replaceAll("\\s+", " ")

  /** Typed UDAF: exact decimal sum of doubles — same determinism contract
    * as graft.Num, as an Aggregator (the Spark UDAF idiom).
    */
  class DecimalSum extends Aggregator[Double, java.math.BigDecimal, Double] {
    private def bd(x: Double) =
      new java.math.BigDecimal(x).setScale(2, java.math.RoundingMode.HALF_UP)
    def zero: java.math.BigDecimal = java.math.BigDecimal.ZERO
    def reduce(b: java.math.BigDecimal, a: Double): java.math.BigDecimal =
      b.add(bd(a))
    def merge(x: java.math.BigDecimal, y: java.math.BigDecimal): java.math.BigDecimal =
      x.add(y)
    def finish(b: java.math.BigDecimal): Double = b.doubleValue
    def bufferEncoder: Encoder[java.math.BigDecimal] = Encoders.DECIMAL
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** "UDTF": Spark's idiom is a generator column — explode over an
    * array-producing expression. Word n-gram table function used by the
    * gate registration below.
    */
  val ngrams: (String, Int) => Array[String] = (text, n) => {
    if (text == null) Array.empty
    else {
      val w = text.split(" ")
      (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toArray
    }
  }

  // Per-session name→class bindings from CREATE FUNCTION. The SAME
  // class may re-register idempotently (the gate re-runs scripts on
  // resubmission), but rebinding a live name — another CREATE FUNCTION's
  // class, a graft native expression, or a Spark builtin — is rejected
  // loudly: createOrReplaceTempFunction would silently change every
  // later use of the name in the session (exactly the failure a
  // colliding `CREATE FUNCTION word_ngrams` produced before this guard).
  private val bindings =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, String]]())

  private def sessionBindings(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String, String] =
    bindings.synchronized {
      var t = bindings.get(spark)
      if (t == null) {
        t = scala.collection.concurrent.TrieMap.empty[String, String]
        bindings.put(spark, t)
      }
      t
    }

  private def guardBinding(spark: SparkSession, name: String,
      className: String): Unit = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    sessionBindings(spark).get(key) match {
      case Some(prev) =>
        require(prev == className,
          s"CREATE FUNCTION $name: already bound to '$prev' in this " +
            s"session; rebinding to '$className' would silently change " +
            "every later use of the name. Pick a different name")
      case None =>
        require(!GraftFunctions.nativeNames(key) &&
            !spark.catalog.functionExists(name),
          s"CREATE FUNCTION $name: collides with a built-in or graft " +
            "native function of the same name; the overwrite would " +
            "poison every later query in the session. Pick a different " +
            "name")
    }
  }

  // record only AFTER the registration succeeded — a CREATE FUNCTION
  // that failed (missing jar, absent class) must not burn the name
  private def commitBinding(spark: SparkSession, name: String,
      className: String): Unit =
    sessionBindings(spark)
      .put(name.toLowerCase(java.util.Locale.ROOT), className)

  /** Multi-column table function: (start index, gram) pairs. Returns
    * array<struct>, the shape the dialect layer's `inline` rewrite
    * consumes when a `LATERAL TABLE` alias declares ≥2 columns.
    */
  val ngramsPos: (String, Int) => Array[(Int, String)] = (text, n) => {
    if (text == null) Array.empty
    else {
      val w = text.split(" ")
      (0 to w.length - n)
        .map(i => (i, w.slice(i, i + n).mkString(" "))).toArray
    }
  }

  /** Gate-level `CREATE FUNCTION name AS 'class'` support: resolve a
    * class name to a registration. Built-in names cover the shipped
    * examples; any other class is loaded reflectively and must be a
    * `java.util.function.Function[String, String]` (the doc's scalar-UDF
    * contract).
    */
  def registerByClass(spark: SparkSession, name: String, className: String): Unit = {
    guardBinding(spark, name, className)
    className match {
      case "graft.functions.Normalize" =>
        spark.udf.register(name, normalize)
      case "graft.functions.DecimalSum" =>
        spark.udf.register(name,
          org.apache.spark.sql.functions.udaf(new DecimalSum))
      case "graft.functions.NGrams" =>
        spark.udf.register(name, ngrams)
      case "graft.functions.NGramsPos" =>
        spark.udf.register(name, ngramsPos)
      case other =>
        val f = Class.forName(other).getDeclaredConstructor().newInstance()
          .asInstanceOf[java.util.function.Function[String, String]]
        spark.udf.register(name, (s: String) => f.apply(s))
    }
    commitBinding(spark, name, className)
  }

  /** Serializable wrapper resolving the UDF class lazily PER JVM through
    * the context classloader — on a cluster the driver ships the jar via
    * `addJar`, executors fetch it into their mutable classloader, and the
    * first call on each executor resolves the class there. Holding a
    * resolved instance instead would require the user class itself to be
    * Serializable and present on the driver's classpath at closure-
    * serialization time.
    */
  private final class JarFunction(className: String)
      extends (String => String) with Serializable {
    @transient private lazy val f =
      Class.forName(className, true,
        Thread.currentThread().getContextClassLoader)
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[java.util.function.Function[String, String]]
    def apply(s: String): String = f.apply(s)
  }

  /** `CREATE FUNCTION name AS 'class' USING JAR '<url>'` — the
    * reference's ext-jar shipping (`CommandUtil.java:42-47` downloads the
    * jar, then `-C file://...` puts it on the job classpath). Spark's
    * analog: `sparkContext.addJar` distributes the jar to executors and
    * appends it to the mutable classloader; registration defers class
    * resolution to first call so it works wherever the jar lands.
    * file:/local paths work everywhere; http URLs use the same code path
    * (addJar supports remote URIs) where the environment has egress.
    */
  def registerFromJar(spark: SparkSession, name: String, className: String,
      jarUrl: String): Unit = {
    guardBinding(spark, name, className)
    val uri = new java.net.URI(jarUrl)
    val local = Option(uri.getScheme) match {
      case None => Some(java.nio.file.Paths.get(jarUrl))
      case Some("file") => Some(java.nio.file.Paths.get(uri))
      case _ => None // remote: executors fetch; driver resolves lazily
    }
    val source = local.fold(jarUrl)(_.toAbsolutePath.normalize.toString)
    guardJarName(spark, source)
    spark.sparkContext.addJar(jarUrl)
    jarSources(jarFileName(source)) = source
    // driver-side eager load for fail-fast when the jar is local (addJar
    // does not add to the DRIVER classloader in all deploy modes; fall
    // back to a direct URLClassLoader child for immediate validation)
    local.foreach { p =>
      require(java.nio.file.Files.exists(p), s"jar not found: $jarUrl")
      val cl = new java.net.URLClassLoader(Array(p.toUri.toURL),
        Thread.currentThread().getContextClassLoader)
      Thread.currentThread().setContextClassLoader(cl)
      Class.forName(className, false, cl) // fail fast if absent from jar
    }
    spark.udf.register(name, new JarFunction(className))
    commitBinding(spark, name, className)
  }

  // jar file name → the path (or remote URL) USING JAR added it from.
  // Spark serves and fetches added jars by file name, so a second jar of
  // a name already added from another path never reaches the executors
  // (`addJar` only logs the clash) and its function would fail at task
  // time with ClassNotFoundException.
  private val jarSources = scala.collection.concurrent.TrieMap[String, String]()

  private def jarFileName(source: String): String =
    source.substring(source.lastIndexOf('/') + 1)

  /** Refuse a jar whose file name the context already serves from
    * another path; the same path again is fine. An entry of a stopped
    * context (its `listJars` no longer holds the name) is stale.
    */
  private def guardJarName(spark: SparkSession, source: String): Unit = {
    val file = jarFileName(source)
    val served = spark.sparkContext.listJars().exists(jarFileName(_) == file)
    jarSources.get(file).filter(prev => served && prev != source)
      .foreach { prev =>
        throw new IllegalArgumentException(
          s"USING JAR '$source': a jar named $file was already added from " +
            s"'$prev', and Spark ships jars by file name, so this one " +
            "would never reach the executors. Rename the jar")
      }
  }
}
