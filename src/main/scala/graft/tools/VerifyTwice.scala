package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Harness, SparkEntry}

/** Nondeterminism smoke: run the FULL query registry twice and compare
  * per-query result fingerprints between the runs. The driver's
  * correctness gate runs each query once inside a loaded 277-query
  * process — a query whose result depends on task timing, partition
  * order, or leaked cross-query state (the `q_sink_jdbc` r6 class: an
  * at-least-once load whose flake window only opened under load) can
  * pass an isolated re-run while failing the driver. Two same-process
  * runs widen exactly that window.
  *
  * Sessions are recycled every 8 queries exactly like `graft.Bench`
  * (and for the same reason: executor ThreadLocal pollution degrades a
  * long-lived local session measurably after ~20 queries); "same
  * process" is what the smoke needs — static state, scratch dirs, and
  * catalog leftovers all survive a session recycle.
  *
  * Fingerprint = md5 over the schema plus the SORTED canonical row
  * strings — order-insensitive (most queries end in orderBy, but ties
  * are allowed to land in any order) and exact on values, so a
  * last-ulp double divergence between runs is a reported finding, not
  * noise to hide. Canonical, not Row.toString: binary cells print as
  * object identity there (spuriously different every run) and map
  * cells print in hash order — both are rendered value-stably here.
  *
  * Usage: graft.tools.VerifyTwice [sfDir]   (default sf0.01)
  * Honors SPARK_GRAFT_ONLY like Verify (with the same zero-match
  * warnings). Exit 1 on any divergence.
  */
object VerifyTwice {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = Harness.cpus
    val names = Harness.selectedNames("verify2")

    def onePass(pass: Int): Map[String, Either[String, String]] = {
      // Re-derive EVERY shared derivation per pass (Scratch): letting
      // run 2 read run 1's parquet or models would exempt those
      // pipelines from exactly the cross-run stability check this
      // tool exists to perform.
      graft.queries.Scratch.reset()
      Harness.sweep(names, cpus) { (spark, name) =>
        System.err.println(s"[verify2] p$pass $name")
        try Right(fingerprint(SparkEntry.queries(name)(spark, sfDir)))
        catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      }.toMap
    }

    val r1 = onePass(1)
    val r2 = onePass(2)
    var diverged = 0
    var erroredStable = 0
    names.foreach { n =>
      (r1(n), r2(n)) match {
        case (Right(a), Right(b)) if a == b => ()
        case (Right(a), Right(b)) =>
          diverged += 1
          println(s"DIVERGED $n run1=$a run2=$b")
        case (Left(a), Left(b)) if a == b =>
          // a query that fails IDENTICALLY both runs is broken but
          // STABLE — the nondeterminism this tool hunts is absent, and
          // plain Verify/the driver gate already reports the breakage;
          // counting it as divergence would leave the smoke permanently
          // red over a deterministic error
          erroredStable += 1
          println(s"ERRORED-STABLE $n both runs: $a")
        case (l, r) =>
          diverged += 1
          println(s"DIVERGED-ERR $n run1=${l.left.toOption.getOrElse("ok")} " +
            s"run2=${r.left.toOption.getOrElse("ok")}")
      }
    }
    println(s"verify-twice: ${names.size - diverged}/${names.size} stable" +
      (if (erroredStable > 0) s" ($erroredStable errored-stable)" else ""))
    if (diverged > 0) sys.exit(1)
  }

  private def fingerprint(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(df.schema.treeString.getBytes("UTF-8"))
    // Length-prefixed rows, not newline-joined: string cells can
    // themselves contain '\n', so a bare join makes row boundaries
    // ambiguous (rows "a\nb" vs "a","b" hashed identically — a
    // cross-run divergence could cancel out and read as stable).
    df.collect().map(r => canon(r)).sorted
      .foreach { r =>
        val bytes = r.getBytes("UTF-8")
        md.update(s"${bytes.length}:".getBytes("UTF-8"))
        md.update(bytes)
      }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Value-stable rendering: hex for binary, sorted entries for maps,
    * recursion for rows/arrays, plain toString for scalars.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(canon).mkString("(", ",", ")")
    case s: Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case x => x.toString
  }
}
