package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = Driver.session(Driver.cpus(4))
    // Clean any previous dump first: Verify only overwrites per-query
    // dirs, so a query that fails on THIS run would otherwise leave a
    // stale green result from a prior run for check.py to compare.
    // Guard: only wipe a directory that IS a previous dump — recognized
    // by the marker file written at dump start (or the final
    // oracle_sql.json from older versions). An EMPTY existing directory
    // is fine too (the driver pre-creates outDir). Anything else must
    // not become a recursive delete of real data.
    def rmTree(f: java.io.File): Boolean = {
      val childrenOk =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).forall(rmTree)
        else true
      childrenOk && f.delete()
    }
    val outDirFile = new java.io.File(outDir)
    if (outDirFile.exists()) {
      val listing = Option(outDirFile.listFiles()).getOrElse(Array.empty)
      val isDump = new java.io.File(outDirFile, ".graft_verify_dump").exists() ||
        new java.io.File(outDirFile, "oracle_sql.json").exists()
      if (listing.nonEmpty && !isDump) {
        System.err.println(
          s"[verify] refusing to clean $outDir: exists, non-empty, and not a previous " +
            "Verify dump (no .graft_verify_dump / oracle_sql.json marker)")
        sys.exit(2)
      }
      if (listing.nonEmpty && !rmTree(outDirFile)) {
        // A partially cleaned dump would reintroduce the stale-green
        // hazard this cleanup exists to close — fail loudly instead.
        System.err.println(s"[verify] could not fully delete previous dump at $outDir")
        sys.exit(2)
      }
    }
    outDirFile.mkdirs()
    // Marker first, so a run that crashes mid-dump still leaves a
    // directory the next invocation recognizes as cleanable.
    Files.writeString(Paths.get(s"$outDir/.graft_verify_dump"), "graft Verify dump\n")
    var failures = 0
    // Local-iteration filter: SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the
    // dump AND the oracle_sql.json to those keys so scripts/check.py can
    // gate a subset. The driver never sets it — full contract unchanged.
    val selected = Driver.select(SparkEntry.queries.toSeq,
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY"), "SPARK_GRAFT_VERIFY_ONLY")
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val q = graft.util.Json.quote _
    val keys = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keys(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // per-table corpus fingerprint, so this dump's numbers stay
    // attributable after the next test-data regeneration; best-effort —
    // a stats failure must not veto an otherwise-green dump
    try CorpusStats.write(spark, sfDir, s"$outDir/corpus_stats.json")
    catch { case e: Throwable =>
      System.err.println(s"[verify] corpus stats failed (non-fatal): ${e.getMessage}")
    }
    spark.stop()
    // A throwing query must fail the run loudly, not just log: with exit 0
    // the missing result dir would silently drop out of the oracle compare.
    if (failures > 0) {
      System.err.println(s"[verify] $failures quer${if (failures == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
