package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans.{DeferredBuildExec, DeferredStrategy, Graft, TopKPerKeyExec, TopKStrategy}

/** Smoke-check for the cluster-deploy path: builds a session with
  * `spark.sql.extensions=graft.GraftExtensions` (extensions only apply at
  * session construction, so this needs its own JVM — the shared-test-
  * session specs cannot cover it), then, for every entry of the
  * [[GraftExtensions]] catalog:
  *   - evaluates the function through PLAIN SQL, no Scala registration in
  *     the user's path, and checks that one argument too few and one too
  *     many are analysis errors;
  *   - checks that a plan holding the strategy's node is planned by the
  *     injected strategy, with nothing added at runtime.
  * Exits non-zero on any mismatch or uncovered entry. Run by
  * round_close.sh:
  *   tools/run_main.sh graft.ExtCheck
  */
object ExtCheck {

  /** Per catalogued function: a query whose one value is `want`. */
  private val functionChecks: Map[String, (String, Any)] = Map(
    "tok_count" -> ("SELECT tok_count('a  b c')", 4),
    "byte_at" -> ("SELECT byte_at(X'00FF7F', 1)", 255L),
    "vec_dot" -> ("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))", 11.0),
    "str_hamming" -> ("SELECT str_hamming('abcd', 'abcf')", 1),
    "ewma" -> ("""SELECT ewma(v, 0.5d) OVER (ORDER BY i)
      |FROM VALUES (1, 1.0d), (2, 3.0d) AS t(i, v)
      |ORDER BY i DESC LIMIT 1""".stripMargin, 2.0),
    // s = 0.5·3 + 0.5·(1 + 0), b = 0.5·(2 − 1) + 0.5·0
    "holt" -> ("""SELECT concat(h.level, '/', h.trend) FROM (
      |  SELECT i, holt(v, 0.5d, 0.5d) OVER (ORDER BY i) AS h
      |  FROM VALUES (1, 1.0d), (2, 3.0d) AS t(i, v))
      |ORDER BY i DESC LIMIT 1""".stripMargin, "2.0/0.5"),
    "url_part" -> ("SELECT url_part('https://a.example/p?q=1', 'HOST')", "a.example"),
    "unicode_norm" -> ("SELECT unicode_norm(decode(X'65CC81', 'UTF-8'), 'NFC')", "é"),
    "text_stats" -> ("SELECT concat(s.n_tokens, '/', s.n_stop) FROM " +
      "(SELECT text_stats('the cat, a dog') AS s)", "4/2"),
    "winnow_prints" -> ("SELECT winnow_prints('aaaa', 2, 1).n_prints", 1L),
    // cutBits 0 cuts at every position once the 31-char window is full
    "gear_cuts" -> ("SELECT cast(gear_cuts(repeat('a', 32), 0) AS string)", "[31, 32]"),
    "bloom_agg" -> ("SELECT length(bloom_agg(xxhash64(id), 10L)) > 0 FROM range(5)", true),
    "bloom_contains" -> ("""SELECT bloom_contains(
      |  (SELECT bloom_agg(xxhash64(id), 10L) FROM range(5)), xxhash64(3L))""".stripMargin,
      true))

  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder("2")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def attempt(check: => Any): Any =
      try check catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}" }

    val functionResults = GraftExtensions.functions.map { f =>
      val got = functionChecks.get(f.name) match {
        case None => "no check"
        case Some((sql, want)) => attempt {
          val v = spark.sql(sql).head().get(0)
          if (v != want) s"got $v, want $want"
          else {
            val unchecked = Seq(f.arity - 1, f.arity + 1).filterNot { n =>
              try { spark.sql(s"SELECT ${f.name}(${Seq.fill(n)("1").mkString(", ")})"); false }
              catch { case e: AnalysisException => e.getMessage.contains("WRONG_NUM_ARGS") }
            }
            if (unchecked.isEmpty) "OK" else s"no WRONG_NUM_ARGS for ${unchecked.mkString("/")} args"
          }
        }
      }
      (f.name, got)
    }

    val rows = spark.sql("SELECT * FROM VALUES ('a', 1), ('a', 3), ('b', 2) AS t(k, v)")
    def planned(df: DataFrame, node: Class[_]): Any = attempt {
      val hasNode = df.queryExecution.sparkPlan.find(node.isInstance).isDefined
      val added = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .experimental.extraStrategies
      df.collect()
      if (!hasNode) s"no ${node.getSimpleName} in the plan"
      else if (added.nonEmpty) s"runtime strategies added: $added"
      else "OK"
    }
    val strategyChecks: Map[SparkStrategy, () => Any] = Map(
      TopKStrategy -> (() => planned(
        Graft.topKPerKey(rows, Seq("k"), Seq(("v", true)), 1), classOf[TopKPerKeyExec])),
      DeferredStrategy -> (() => planned(
        graft.plans.Deferred(spark, rows.schema, "extcheck")(() => rows),
        classOf[DeferredBuildExec])))
    val strategyResults = GraftExtensions.strategies.map { s =>
      (s.getClass.getSimpleName.stripSuffix("$"), strategyChecks.get(s).fold[Any]("no check")(_()))
    }

    val results = functionResults ++ strategyResults
    val bad = results.filter(_._2 != "OK")
    bad.foreach { case (n, why) => System.err.println(s"[extcheck] $n: $why") }
    println(s"[extcheck] ${functionResults.count(_._2 == "OK")}/${functionResults.size} " +
      s"injected functions OK via SQL, ${strategyResults.count(_._2 == "OK")}/" +
      s"${strategyResults.size} injected strategies plan their nodes")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
