package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.functions.TextExprs
import graft.plans.{AsOfJoinStrategy, BandJoinRewrite}

/** The one place graft builds, configures and owns a SparkSession.
  *
  * [[local]] builds the session every graft operator expects (UTC
  * session time, AQE on, shuffle parallelism = cores) with the graft
  * function registry (`vec_dot`, `word_shingles`, `minhash_sig`,
  * `simhash64`, …) and optimizer rules (band-join rewrite, as-of join
  * strategy) installed. [[run]] is the session protocol of the
  * operational mains: reuse the caller's session untouched, or own a
  * fresh one for the length of the run.
  *
  * On a cluster, pass the same settings through spark-submit and call
  * [[install]] on the existing session instead — or set
  * `spark.sql.extensions=graft.plans.GraftSparkExtensions`.
  */
object GraftSession {

  /** Cores of a fresh session: `SPARK_GRAFT_CPUS`, else every processor. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // codegen cache stays at Spark's 100: 5000 entries made hot eval() sites megamorphic
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the weekly-summary cumulative windows run single-partition by
    // design (week-grain input, WeeklySummary.statsFromCounts), so
    // WindowExec's per-execution scale warning is noise
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    install(spark)
  }

  /** A main's setting: the JVM system property `name`, else the
    * environment variable — so an embedding spec can set a gate or a
    * source per run without mutating the process environment. */
  def flag(name: String): Option[String] = sys.props.get(name).orElse(sys.env.get(name))

  /** A main's failed check. An owned [[run]] exits the JVM with `code`;
    * an embedded one rethrows to its caller. */
  final class RunFailed(val code: Int, message: String) extends RuntimeException(message)

  /** Exit code 1: a run's output diverged from its reference. */
  def diverged(message: String): Nothing = throw new RunFailed(1, message)

  /** Exit code 2: a gate refused the run before it published anything. */
  def gateFailed(message: String): Nothing = throw new RunFailed(2, message)

  /** Run a main's `body` on a session. An active or default session (a
    * spec, Bench, an embedding harness) is reused as-is — its runtime
    * confs untouched, its lifecycle left to its owner — with the graft
    * extensions installed. Otherwise a fresh [[local]] session is built
    * and stopped when `body` ends, and a [[RunFailed]] becomes the
    * process exit code. */
  def run(body: SparkSession => Unit): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(spark) => body(install(spark))
      case None =>
        val spark = local()
        val failed =
          try { body(spark); None }
          catch { case e: RunFailed => Some(e) }
          finally spark.stop()
        failed.foreach { e =>
          System.err.println(e.getMessage)
          sys.exit(e.code)
        }
    }

  /** Idempotently install graft's custom expressions and optimizer
    * rules on any session. */
  def install(spark: SparkSession): SparkSession = {
    TextExprs.register(spark)
    // the snapshot store's SQL catalog (SELECT/INSERT/DELETE/time
    // travel on graft.`/path` tables) — catalog plugins instantiate
    // lazily from conf, so a runtime set is the supported install hook;
    // never clobber a deployment that bound the name to something else
    if (!spark.conf.getOption("spark.sql.catalog.graft").isDefined)
      spark.conf.set("spark.sql.catalog.graft",
        "graft.incremental.GraftCatalog")
    if (!spark.experimental.extraOptimizations.contains(BandJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BandJoinRewrite
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    spark
  }
}
