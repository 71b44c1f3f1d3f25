package graft.sqlgate

/** Calls generated from each entry of [[GraftTvfRewrite.Registry]]: the
  * argument forms every TVF accepts and rejects, its usage text and its
  * streaming seat, checked for every TVF the table holds, including any
  * added later.
  */
class TvfRegistrySpec extends graft.SparkSpec {
  import GraftTvfRewrite.{Registry, Tvf}
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTableValuedFunction}
  import org.apache.spark.sql.catalyst.expressions.FunctionTableSubqueryArgumentExpression

  private def sql(name: String, args: Seq[String]) =
    s"SELECT * FROM TABLE($name(${args.mkString(", ")}))"

  /** The call with `n` trailing literals (sample values beyond the
    * entry's own slots are integers).
    */
  private def args(e: Tvf, n: Int): Seq[String] =
    e.tables.map("TABLE src_" + _) ++ e.descriptors.map(d => s"DESCRIPTOR($d)") ++
      (0 until n).map(i => if (e.lits.lift(i).forall(_.int)) "7" else "0.5")

  /** Whether some entry of the same name accepts `a` (TOKENIZE's
    * one-table form is its two-table form minus a TABLE argument).
    */
  private def acceptedBySibling(e: Tvf, a: Seq[String]) =
    Registry.exists(o => o.name == e.name && o.tables.size ==
      a.count(_.startsWith("TABLE ")) && o.descriptors.size ==
      a.count(_.startsWith("DESCRIPTOR")) && o.arities.contains(
      a.count(x => !x.startsWith("TABLE ") && !x.startsWith("DESCRIPTOR"))))

  private def assertMalformed(e: Tvf, a: Seq[String]): Unit = {
    val call = sql(e.name, a)
    val err = intercept[IllegalArgumentException](
      GraftTvfRewrite.validateOnly(call))
    assert(err.getMessage.contains("malformed graft TVF"), call)
    assert(err.getMessage.contains(e.usage), call)
    for (o <- Registry if o.name != e.name)
      assert(!err.getMessage.contains(s"TABLE(${o.name}("), call)
  }

  test("the shortest and longest accepted call of every entry validate") {
    for (e <- Registry; n <- Seq(e.arities.min, e.arities.max)) {
      val call = sql(e.name, args(e, n))
      val fn = spark.sessionState.sqlParser.parsePlan(GraftTvfRewrite(call))
        .collectFirst { case f: UnresolvedTableValuedFunction => f }
      assert(fn.exists(f => f.name == Seq(e.name) && f.functionArgs.size ==
        e.tables.size + e.descriptors.size + n), call)
      assert(fn.get.functionArgs.collect {
        case t: FunctionTableSubqueryArgumentExpression =>
          t.plan.asInstanceOf[UnresolvedRelation].name
      } == e.tables.map("src_" + _), call)
    }
  }

  test("a missing argument, a literal count the entry does not take, or " +
    "a decimal in an integer slot is malformed, with the TVF's usage") {
    for (e <- Registry) {
      val shortest = args(e, e.arities.min)
      for (i <- shortest.indices) {
        val dropped = shortest.patch(i, Nil, 1)
        if (!acceptedBySibling(e, dropped)) assertMalformed(e, dropped)
      }
      for (n <- 0 to e.arities.max + 1 if !e.arities.contains(n)) {
        val a = args(e, n)
        if (!acceptedBySibling(e, a)) assertMalformed(e, a)
      }
      val longest = args(e, e.arities.max)
      val fixed = e.tables.size + e.descriptors.size
      for ((l, i) <- e.lits.zipWithIndex if l.int && i < e.arities.max)
        assertMalformed(e, longest.updated(fixed + i, "0.5"))
    }
  }

  test("the streaming rejection names exactly the streamable seats") {
    val msg = GraftTvfRewrite.streamingRejection("s")
    for (e <- Registry; (seat, i) <- e.tables.zipWithIndex) {
      val named = ("\\b" + java.util.regex.Pattern.quote(
        s"${e.name}(TABLE $seat)")).r.findFirstIn(msg).isDefined
      assert(named == e.stream.contains(i), s"${e.name} TABLE $seat")
    }
  }

  test("a runner registers every entry name as a session table function") {
    // a session no runner has served yet
    val session = spark.newSession()
    val functions = session.sessionState.tableFunctionRegistry
    for (e <- Registry)
      assert(!functions.functionExists(FunctionIdentifier(e.name)), e.name)
    new ScriptRunner(session)
    for (e <- Registry)
      assert(functions.functionExists(FunctionIdentifier(e.name)), e.name)
  }

  test("a second runner on one session re-registers no table function") {
    val functions = spark.sessionState.tableFunctionRegistry
    val names = Registry.map(_.name).distinct :+
      MatchRecognizeRewrite.FunctionName
    def builders() = names.map(n =>
      functions.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    new ScriptRunner(spark)
    val first = builders()
    new ScriptRunner(spark)
    new ScriptRunner(spark, batchMode = true)
    builders().zip(first).zip(names).foreach { case ((now, was), n) =>
      assert(now eq was, s"$n was registered again")
    }
  }
}
