package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name subset, for fast
    // local iteration; tools/check.py takes the same subset as its
    // 3rd arg (full runs omit it).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
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
    // Manifest of EVERY expected query (plus per-query failures), so
    // the gate can fail on a missing output dir instead of silently
    // skipping a crashed query. Self-describing provenance (r5
    // advice): the sf dir this sweep actually ran against, a
    // timestamp, and the git HEAD — so a CORRECTNESS artifact can
    // never silently claim a different scale factor than it ran at.
    def git(args: String*): Option[String] =
      try {
        val p = new ProcessBuilder(("git" +: args): _*).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
      } catch { case _: Throwable => None }
    val head = git("rev-parse", "HEAD").getOrElse("unknown")
    // LEAKCHECK.json is driver-owned and carries no stamp of its own;
    // fingerprinting its content here ties each round's leak scan to
    // this commit + timestamp, so a round bump is distinguishable
    // from a rerun (r6 advice item 2). Resolved against the repo root
    // git discovers from the working directory (never a hardcoded
    // checkout path), with "absent" ≠ "unreadable" distinguished.
    val leakMd5 = {
      val root = git("rev-parse", "--show-toplevel").getOrElse(".")
      val lp = Paths.get(root).resolve("LEAKCHECK.json")
      if (!Files.exists(lp)) "absent"
      else
        try java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(lp)).map("%02x".format(_)).mkString
        catch { case _: Throwable => "unreadable" }
    }
    val manifest =
      s"""{"queries": ${SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")},
         | "failed": ${failed.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")},
         | "sf_dir": ${q(sfDir)},
         | "ts": ${q(java.time.Instant.now().toString)},
         | "commit": ${q(head)},
         | "leakcheck_md5": ${q(leakMd5)}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    spark.stop()
  }
}
