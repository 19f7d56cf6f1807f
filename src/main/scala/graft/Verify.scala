package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 dumps a subset — a local iteration aid
    // (mirrors Bench); the driver leaves it unset and dumps everything.
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .fold(SparkEntry.queries)(only => SparkEntry.queries.filter(kv => only(kv._1)))
    // Failures are collected, not just logged: round 6/7 silently shrank
    // the driver's checked set from 150 to 112 (every events query erred
    // at analysis) and the correctness artifact LOOKED green because the
    // dead queries were simply absent. A registered query that errors now
    // lands in `failed`, is counted in verify_counts.json, and flips the
    // exit code.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Registered/oracled counts are derived HERE, from the maps
    // themselves, and enforced against the README's prose — the counts
    // drifted mid-round-4 (README said 135/122 while the code had
    // 136/123), and a stale README misreports the engine's surface to
    // exactly the audience deciding whether to trust it. Runs AFTER all
    // outputs are written so a drift never costs the round's
    // correctness artifacts.
    val registered = SparkEntry.queries.size
    val oracled = SparkEntry.oracleSql.size
    val dumped = selected.size - failed.size
    println(s"[verify] registered=$registered oracled=$oracled " +
      s"selected=${selected.size} dumped=$dumped failed=${failed.size}")
    // Machine-readable counts the driver can diff round-over-round — a
    // shrinking checked set can never again pass silently. `dumped` is
    // what this process verified it wrote; `passed` is driver territory
    // (the DuckDB compare), so it is not claimed here.
    val countsJson = s"""{"registered":$registered,"oracled":$oracled,""" +
      s""""selected":${selected.size},"dumped":$dumped,""" +
      s""""failed":${failed.sorted.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/verify_counts.json"), countsJson + "\n")
    Files.writeString(Paths.get("verify_counts.json"), countsJson + "\n")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    if (orphaned.nonEmpty) {
      System.err.println(s"[verify] ORPHANED ORACLES (no matching query — typo?): " +
        orphaned.toSeq.sorted.mkString(", "))
      sys.exit(3)
    }
    val readme = Paths.get("README.md")
    if (Files.exists(readme)) {
      val stated = "(\\d+) registered queries, (\\d+) oracled".r
        .findFirstMatchIn(Files.readString(readme))
      stated.foreach { m =>
        if (m.group(1).toInt != registered || m.group(2).toInt != oracled) {
          System.err.println(s"[verify] COUNT DRIFT: README states " +
            s"${m.group(1)}/${m.group(2)} but the code registers $registered/$oracled")
          sys.exit(3)
        }
      }
      if (stated.isEmpty)
        System.err.println("[verify] README count sentence not found — cannot cross-check")
    }
    // SURVEY §8 per-query oracle-claim sync (round-5 drift: SURVEY said
    // `media_features` was oracle-compared while the code registered it
    // rows-only). Every backticked driver-query token in the §8 coverage
    // tables claims oracle-compared UNLESS "(rows-only …)" follows the
    // token before the next backtick; both claim directions are enforced
    // against SparkEntry.oracleSql, so a SURVEY edit and a query-map edit
    // can only land together.
    val survey = Paths.get("SURVEY.md")
    if (Files.exists(survey)) {
      val text = Files.readString(survey)
      val sec = text.indexOf("## 8.")
      if (sec < 0)
        System.err.println("[verify] SURVEY §8 not found — cannot cross-check oracle claims")
      else {
        val token = "`([a-z0-9_]+)`([^`]*)".r
        val drift = text.substring(sec).linesIterator
          .filter(_.startsWith("|"))
          .map(_.split("\\|"))
          .filter(_.length > 3)
          .flatMap(cells => token.findAllMatchIn(cells(3)))
          .collect {
            case m if SparkEntry.queries.contains(m.group(1)) =>
              val name = m.group(1)
              val claimsRowsOnly = m.group(2).contains("rows-only")
              if (claimsRowsOnly && SparkEntry.oracleSql.contains(name))
                Some(s"$name: SURVEY §8 says rows-only but an oracleSql entry exists")
              else if (!claimsRowsOnly && !SparkEntry.oracleSql.contains(name))
                Some(s"$name: SURVEY §8 implies oracle-compared but no oracleSql entry")
              else None
          }.flatten.toSeq.distinct
        val claims = text.substring(sec).linesIterator
          .filter(_.startsWith("|")).map(_.split("\\|")).filter(_.length > 3)
          .flatMap(cells => token.findAllMatchIn(cells(3)))
          .count(m => SparkEntry.queries.contains(m.group(1)))
        println(s"[verify] survey_oracle_claims_checked=$claims drift=${drift.size}")
        if (drift.nonEmpty) {
          System.err.println("[verify] SURVEY ORACLE-CLAIM DRIFT:\n  " +
            drift.mkString("\n  "))
          sys.exit(3)
        }
      }
    }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] RED: ${failed.size} registered queries errored: " +
        failed.sorted.mkString(", "))
      sys.exit(2)
    }
  }
}
