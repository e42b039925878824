package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** duplicateClusters against a driver-side union-find on random graphs:
  * the distributed min-label + pointer-jump loop must assign every
  * vertex the smallest id reachable in its component, for any topology
  * ScalaCheck throws at it — cliques, chains, stars, cycles, disjoint
  * unions — and a failure shrinks to a minimal diverging edge list.
  */
object ClusteringPropertiesSpec extends Properties("DuplicateClusters") {

  // Each case runs the full iterative Spark loop; a dozen well-shrunk
  // cases beat a hundred slow ones for the suite's time budget.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config(Harness.LocalFsConfs)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // Small id domain forces dense collision topologies; (a, a+d mod 25)
  // never degenerates to a self-loop.
  private val edge: Gen[(Long, Long)] = for {
    a <- Gen.chooseNum(0L, 24L)
    d <- Gen.chooseNum(1L, 24L)
  } yield (a, (a + d) % 25)

  property("matches a driver-side union-find on every topology") =
    forAll(Gen.listOf(edge)) { edges =>
      import spark.implicits._
      // Union-find where the smaller root always wins: each final root
      // IS the component minimum.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.map(v => v -> find(v)).toMap

      val got = Dedup.duplicateClusters(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }
}
