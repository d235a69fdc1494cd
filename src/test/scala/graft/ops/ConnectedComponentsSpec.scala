package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The alternating large-star/small-star rounds must reach the true
  * component fixpoint — including multi-hop chains where the min id is
  * several edges away — cross-checked against an in-memory union-find.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: (Long, Long)*): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain: the min id propagates across multiple hops") {
    // 5-4-3-2-1: min (1) is 4 hops from 5
    val got = run((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("separate components keep separate labels") {
    val got = run((10L, 11L), (20L, 21L), (21L, 22L))
    assert(got == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("star and triangle resolve to the hub minimum") {
    val got = run((7L, 3L), (7L, 9L), (7L, 8L), (3L, 9L))
    assert(got == Map(3L -> 3L, 7L -> 3L, 8L -> 3L, 9L -> 3L))
  }

  test("deep tree: star-forest early exit stays exact when |e| is round-stable") {
    // (i, i/2) edges form one tree rooted at 1; every round rewrites
    // attachments toward the root while the edge COUNT stays constant —
    // the regime where the n-stable gate runs the star-forest test
    // mid-loop (optimization r16). The exit may only fire at the true
    // fixpoint: every vertex must still label to the global min.
    val edges = (2L to 32L).map(i => (i, i / 2))
    val got = run(edges: _*)
    assert(got == (1L to 32L).map(_ -> 1L).toMap)
  }

  test("a vertex seen only in a self-loop keeps its own label") {
    val got = run((4L, 4L), (9L, 2L), (2L, 2L))
    assert(got == Map(4L -> 4L, 2L -> 2L, 9L -> 2L))
  }

  test("random graphs agree with a union-find reference (seeded)") {
    // in-memory union-find as the independent oracle
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress to the component minimum
      val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
      vertices.map(v => v -> find(v.toInt).toLong).toMap
    }
    val rnd = new scala.util.Random(42)
    // a 40-vertex path over shuffled ids (100..139) needs 4+ rounds
    val ids = rnd.shuffle((100L until 140L).toVector)
    val path = ids.zip(ids.tail)
    (1 to 5).foreach { trial =>
      val n = 30
      // self-loops kept; duplicate and reversed copies of some edges
      val random = Seq.fill(25)((rnd.nextLong(n), rnd.nextLong(n)))
      val copies = random.take(6) ++ random.slice(6, 12).map(_.swap)
      val edges = rnd.shuffle(random ++ copies ++ path)
      val expect = unionFind(140, edges)
      assert(run(edges: _*) == expect, s"trial $trial: $edges")
    }
  }

  test("no execution the fixpoint starts runs an inner join") {
    // an inner join of a frame with its own aggregate reads two shuffle
    // stages over one input, and AQE broadcasts whichever finishes first
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        plans.add(qe)
    }
    val edges = ((2L to 32L).map(i => (i, i / 2)) :+ (40L -> 41L)).toDF("src", "dst")
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      ConnectedComponents.components(edges)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size >= 3)
    plans.forEach { qe =>
      val inner = qe.optimizedPlan.collect { case j: Join if j.joinType == Inner => j }
      assert(inner.isEmpty, qe.optimizedPlan.treeString)
    }
  }
}
