package graft

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions._
import graft.indicators.{Ewma, Holt}
import graft.plans.{DeferredStrategy, LevenshteinBandRule, TopKStrategy}

/** Session-extension entry point: injects the [[GraftExtensions]]
  * catalog — every SQL function, both planner strategies and the
  * Levenshtein optimizer rule — at session build, so a cluster deploy
  * enables them with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * and `SELECT ewma(price, 0.095) OVER (...)` works in plain SQL with no
  * Scala in the user's path. In-library callers need no conf: every
  * Column helper (`Ewma.bySpan`, `VecDot.apply`, …), `Graft.topKPerKey`
  * and `Deferred.apply` call [[GraftExtensions.install]], which puts the
  * same functions and strategies into the session at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

/** The one catalog of graft's session extensions, read by the extension
  * path ([[GraftExtensions.apply]]), the runtime path ([[install]]) and
  * [[ExtCheck]]. `cov_accum_<d>` is not here: its name depends on `d`
  * (see [[graft.functions.CovAccum.register]]). */
object GraftExtensions {

  /** `name(arg_1, …, arg_arity)` in SQL builds the `cls` expression
    * through `build`. */
  final case class SqlFunction(name: String, cls: Class[_], arity: Int,
      build: Seq[Expression] => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    val info: ExpressionInfo =
      new ExpressionInfo(cls.getName, null, name, null, "", "", "", "", "", "", "built-in")
    /** `build` behind the argument-count check every built-in function
      * makes: a wrong count is an analysis error, as for `abs(1, 2)`. */
    val builder: Seq[Expression] => Expression = args => {
      if (args.length != arity) throw new AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> s"`$name`", "expectedNum" -> arity.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> SPARK_DOC_ROOT))
      build(args)
    }
  }

  private def literalInt(e: Expression): Int = e.eval().asInstanceOf[Int]

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("ewma", classOf[Ewma], 2, a => Ewma(a(0), a(1))),
    SqlFunction("holt", classOf[Holt], 3, a => Holt(a(0), a(1), a(2))),
    SqlFunction("vec_dot", classOf[VecDot], 2, a => VecDot(a(0), a(1))),
    SqlFunction("str_hamming", classOf[StrHamming], 2, a => StrHamming(a(0), a(1))),
    SqlFunction("tok_count", classOf[TokCount], 1, a => TokCount(a(0))),
    SqlFunction("byte_at", classOf[ByteAt], 2, ByteAt.build),
    SqlFunction("url_part", classOf[UrlPart], 2, UrlPart.build),
    SqlFunction("unicode_norm", classOf[UnicodeNorm], 2, UnicodeNorm.build),
    SqlFunction("text_stats", classOf[TextStats], 1, a => TextStats(a(0))),
    SqlFunction("winnow_prints", classOf[WinnowPrints], 3,
      a => WinnowPrints(a(0), literalInt(a(1)), literalInt(a(2)))),
    SqlFunction("gear_cuts", classOf[GearCuts], 2, a => GearCuts(a(0), literalInt(a(1)))),
    // the builder returns the bare AggregateFunction; the analyzer wraps
    // it, as it does for built-in registry aggregates
    SqlFunction("bloom_agg", classOf[BloomFilterAggregate], 2,
      a => new BloomFilterAggregate(a(0), a(1).eval().asInstanceOf[Number].longValue())),
    SqlFunction("bloom_contains", classOf[BloomFilterMightContain], 2,
      a => new BloomFilterMightContain(a(0), a(1))))

  /** Each plans only its own logical node, so installing both changes no
    * other plan. */
  val strategies: Seq[SparkStrategy] = Seq(DeferredStrategy, TopKStrategy)

  /** Extension-only: [[install]] leaves these out, so runtime sessions
    * keep their plans. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(LevenshteinBandRule)

  /** Put every catalogued function and strategy into `spark` at runtime
    * (idempotent; registers nothing already there, e.g. from the
    * extension, and runs no job). */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { f =>
      if (!registry.lookupFunction(f.id).exists(_.getClassName == f.info.getClassName))
        registry.registerFunction(f.id, f.info, f.builder)
    }
    val planned = spark.sessionState.planner.strategies
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    strategies.filterNot(planned.contains).foreach { s =>
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
