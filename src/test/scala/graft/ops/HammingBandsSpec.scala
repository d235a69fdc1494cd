package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The banded-Hamming kernel against brute force: for both layouts in
  * use (SimHash's 4×15 bits, the media aHash's 4×16), its pairs must be
  * exactly the all-pairs set within the maximum distance, each pair once.
  */
class HammingBandsSpec extends SparkSpec {
  import spark.implicits._

  private val layouts = Seq(
    "simhash 4x15" -> graft.queries.SketchDedupQueries.SimHashBands,
    "ahash 4x16" -> graft.queries.MultimodalQueries.AHashBands)

  private def frame(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("doc_id", "sig")

  private def bruteForce(layout: HammingBands, rows: Seq[(Long, Long)]): Seq[(Long, Long, Int)] =
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= layout.maxDistance
    } yield (ia, ib, d)).sorted

  private def kernel(layout: HammingBands, rows: Seq[(Long, Long)]): Seq[(Long, Long, Int)] =
    layout.pairs(frame(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted

  /** Seeded signatures of the layout's width under shuffled ids. */
  private def signatures(layout: HammingBands, seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val width = layout.bands * layout.bits
    val mask = if (width == 64) -1L else (1L << width) - 1
    def flip(s: Long, positions: Seq[Int]): Long =
      positions.foldLeft(s)((acc, p) => acc ^ (1L << p))
    def randomBits(n: Int, from: Int = 0, until: Int = width): Seq[Int] =
      rnd.shuffle((from until until).toList).take(n)
    val bases = Seq.fill(24)(rnd.nextLong() & mask)
    // near variants at distance 1..4 (4 is past every layout's maximum)
    val near = bases.take(10).flatMap(b => (1 to 4).map(n => flip(b, randomBits(n))))
    // every flipped bit inside one band: the pair shares the other bands
    val oneBand = bases.slice(10, 16).map { b =>
      val band = rnd.nextInt(layout.bands)
      flip(b, randomBits(1 + rnd.nextInt(3), band * layout.bits, (band + 1) * layout.bits))
    }
    // one band-0 bucket of many representatives: band 0 kept, the rest
    // random (far apart) or one to three bits off the bucket's base
    val bucketBase = bases(16)
    val band0 = (1L << layout.bits) - 1
    val bucket = Seq.fill(3)((rnd.nextLong() & mask & ~band0) | (bucketBase & band0)) ++
      (1 to 3).map(n => flip(bucketBase, randomBits(n, layout.bits)))
    // keys with the top bit set (a negative long) and their variants
    val top = if (width == 64)
      bases.slice(17, 21).map(_ | Long.MinValue).flatMap(b => Seq(b, flip(b, randomBits(2))))
    else Nil
    val distinct = bases ++ near ++ oneBand ++ bucket ++ top
    // identical signatures: copies of a few under their own ids
    val all = distinct ++ Seq.fill(2)(bases(0)) ++ Seq.fill(3)(near(1)) ++ top.take(1)
    val ids = rnd.shuffle((1L to all.size.toLong).map(_ * 7 + 100).toList)
    ids.zip(all)
  }

  layouts.foreach { case (name, layout) =>
    test(s"$name: pairs equal the brute-force all-pairs set, each pair once") {
      val rows = signatures(layout, seed = 17)
      val want = bruteForce(layout, rows)
      assert(kernel(layout, rows) == want)
      // the fixture reaches every case it is built for
      assert(want.exists(_._3 == 0) && want.exists(_._3 == layout.maxDistance))
      assert(want.size >= 20)
      if (layout.bands * layout.bits == 64) assert(rows.exists(_._2 < 0))
    }

    test(s"$name: empty and one-row inputs have no pairs") {
      assert(kernel(layout, Nil).isEmpty)
      assert(kernel(layout, Seq(1L -> 5L)).isEmpty)
      assert(kernel(layout, Seq(1L -> -1L, 2L -> 3L)).isEmpty)
    }
  }

  test("a band word of a key with bit 63 set is its unsigned bits") {
    val layout = graft.queries.MultimodalQueries.AHashBands
    val key = Long.MinValue | 0x0001000200030004L
    val words = Seq(key).toDF("sig")
      .select((0 until layout.bands).map(b => layout.word($"sig", b)): _*)
      .collect()(0).toSeq
    assert(words == Seq(4L, 3L, 2L, 0x8001L))
  }

  test("the candidate step plans no join") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        plans.add(qe)
    }
    val layout = graft.queries.SketchDedupQueries.SimHashBands
    val reps = layout.reps(frame(signatures(layout, seed = 5)))
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      assert(layout.repPairs(reps).collect().nonEmpty)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1)
    plans.forEach { qe =>
      val joins = qe.optimizedPlan.collect { case j: Join => j }
      assert(joins.isEmpty, qe.optimizedPlan.treeString)
    }
  }
}
