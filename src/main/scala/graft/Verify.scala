package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.newSession(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // Side-channel for self-diagnosing queries (q_sink_jdbc): raw
    // un-hashed evidence lands in a SIBLING of outDir, never inside it.
    // r8 proved the underscore-prefix assumption wrong: the driver
    // enumerates every entry under outDir as a query dump and choked on
    // the diag .txt with a pyarrow "Parquet magic bytes not found" —
    // the evidence channel masqueraded as a failing query. A sibling
    // path is invisible to the scan yet still lands next to the run.
    // Cleared up front for the same reason failed query outputs are
    // deleted below: on a REUSED outDir, a query that crashes BEFORE
    // its diag block would otherwise ship the previous run's healthy
    // dump as this failure's evidence — worse than no evidence.
    val diagDir = Paths.get(outDir).toAbsolutePath.normalize.toString + "_diag"
    // Clear the sibling AND the legacy in-tree location: a REUSED
    // outDir from a pre-r9 run still carries <outDir>/_diag, and
    // leaving it reproduces the exact driver failure the sibling move
    // fixes.
    Seq(Paths.get(diagDir), Paths.get(s"$outDir/_diag")).foreach { p =>
      try deleteRecursively(p)
      catch { case e: Throwable =>
        System.err.println(s"[verify] stale _diag cleanup failed: ${e.getMessage}")
      }
    }
    System.setProperty("graft.diag.dir", diagDir)
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b runs a subset
    // (unset — the driver's invocation — runs everything); typo'd /
    // zero-match filters warn via Harness so they can't read as green.
    Harness.selectedNames("verify").foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a REUSED outDir must not present the previous run's parquet
        // for this name as this run's result — the overwrite above
        // never executed, so the stale dir would hash-compare GREEN
        // for a query that just crashed; delete it so the checker
        // reports it missing instead. Guarded: a cleanup failure (e.g.
        // a still-draining task flushing one more _temporary file mid-
        // walk) must cost THIS query, not abort the remaining sweep.
        try deleteRecursively(Paths.get(s"$outDir/$name"))
        catch { case e2: Throwable =>
          System.err.println(
            s"[verify] $name stale-output cleanup failed: ${e2.getMessage}")
        }
      }
    }
    def q(s: String): String = Jsons.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))
      finally walk.close()
    }
}
