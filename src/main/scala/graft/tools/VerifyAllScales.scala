package graft.tools

/** Cross-scale oracle sweep, institutionalized (r9 ran it by hand):
  * dump the FULL query registry at all three scale factors in one
  * invocation, ready for the DuckDB checker per scale. The driver's
  * gate runs only sf0.01 — structurally blind to data-dependent
  * divergence that needs more rows to surface (the r9 cross-engine
  * ROUND-tie class appeared ONLY at sf0.1: 6dp-quantized mean kernels
  * whose .5e-6 ties need enough rows to land on). One sbt/java
  * invocation per round keeps that class from silently regressing.
  *
  * Usage: graft.tools.VerifyAllScales [outRoot]  (default
  * /tmp/verify_all). Then per scale:
  *   python3 .claude/skills/verify/check_oracle.py \
  *     /root/testdata/<sf> <outRoot>/<sf>
  * (the checker is driver-side python+duckdb by design — the engine
  * repo carries no DuckDB dependency). `scripts/verify_all_scales.sh`
  * wraps both halves.
  *
  * Honors SPARK_GRAFT_ONLY (subset iteration) and SPARK_GRAFT_SCALES
  * (comma list of sf dir names, default all three) like the other
  * mains.
  */
object VerifyAllScales {
  def main(args: Array[String]): Unit = {
    val outRoot = if (args.nonEmpty) args(0) else "/tmp/verify_all"
    val sfs = sys.env.get("SPARK_GRAFT_SCALES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("sf0.001", "sf0.01", "sf0.1"))
    sfs.foreach { sf =>
      System.err.println(s"[verify-all] dumping $sf")
      // Each scale derives its shared derivations fresh — Scratch's
      // keys already isolate by dir, but an explicit per-scale reset
      // keeps the dumps independent even if a future key regression
      // collides across dirs.
      graft.queries.Scratch.reset()
      graft.Verify.main(Array(s"/root/testdata/$sf", s"$outRoot/$sf"))
    }
    println(s"[verify-all] dumps complete under $outRoot; check per scale:")
    sfs.foreach(sf => println(
      s"  python3 .claude/skills/verify/check_oracle.py /root/testdata/$sf $outRoot/$sf"))
  }
}
