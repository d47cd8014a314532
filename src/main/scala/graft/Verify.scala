package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    // optional 3rd+ args: run only the named queries (local iteration;
    // the driver always passes exactly two args). Unknown names FAIL —
    // a typo that silently selected nothing would leave stale parquet in
    // outDir for the oracle compare to bless as green
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.toSet).toMap
    val spark = LocalSession(
      // q_mutual_knn_lsh's DuckDB oracle is the EXACT brute-force miner,
      // while the door's default 1024-member bucket quota is only exact
      // while every LSH bucket fits it (true at the graded SFs, false at
      // sf1+ where buckets reach ~5000) — the r15 ADVICE hole: a
      // larger-SF sweep would silently misreport an oracle failure. The
      // correctness dump therefore always runs the documented unbounded
      // switch; the quota stays the BENCH/serving default.
      "spark.graft.lsh.bucketQuota" -> "2147483647")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // a PREVIOUS run's output must not survive a failing query — the
      // oracle compare would bless the stale parquet as green. Delete
      // first; a failure leaves the dir ABSENT, which the compare
      // reports as missing output, not a pass.
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a half-written output dir is as misleading as a stale one
        deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonText.quote(k)}: ${JsonText.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the self-explanation for every oracle-less entry: a reader of the
    // round's correctness artifact finds each `err: "no_oracle"` row's
    // by-design rationale (and its exact-verified twin) one file away
    val byDesign = SparkEntry.noOracleByDesign
      .map { case (k, v) =>
        s"${JsonText.quote(k)}: ${JsonText.quote(s"no_oracle:by_design: $v")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle_by_design.json"), byDesign)
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** The one JSON string escaper (used by the oracle dump above and the
  * seen-file-set stream offsets): backslash, quote, and ALL control
  * chars (< 0x20) — a tab or CR in builder-authored SQL would otherwise
  * make the driver's json.load fail and silently zero the round's
  * correctness, and a newline in an offset would corrupt Spark's
  * line-oriented offset log. One definition so an escaping fix cannot
  * silently diverge between the two. */
private[graft] object JsonText {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
