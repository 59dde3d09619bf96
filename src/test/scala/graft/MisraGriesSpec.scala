package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MgBuffer
import graft.operators.{CorpusOps, Sketches}

class MisraGriesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Drive an MgBuffer tree locally: split `stream` into random runs, build
    * a buffer per run (update path), then merge pairwise in random order
    * through [[MgBuffer.merge]], the aggregate's merge — the worst-case
    * distributed execution shape.
    */
  private def mgOverRandomTree(stream: Seq[String], k: Int, rnd: Random): Set[String] = {
    val runs = {
      val cuts = (0 +: Seq.fill(rnd.nextInt(6))(rnd.nextInt(stream.size + 1)) :+ stream.size)
        .distinct.sorted
      cuts.zip(cuts.tail).map { case (a, b) => stream.slice(a, b) }
    }
    var bufs = runs.map { run =>
      val b = new MgBuffer(k)
      run.foreach(b.add(_, 1L))
      b
    }.toVector
    while (bufs.size > 1) {
      val i = rnd.nextInt(bufs.size - 1)
      bufs = bufs.patch(i, Seq(bufs(i).merge(bufs(i + 1))), 2)
    }
    bufs.head.counts.keySet.toSet
  }

  test("MG guarantee: candidates ⊇ items above n/(k+1), any split/merge order") {
    val rnd = new Random(42)
    for (trial <- 0 until 40) {
      val vocabSize = 5 + rnd.nextInt(60)
      val n = 200 + rnd.nextInt(800)
      // Zipf-ish skew so some items genuinely clear the bound.
      val stream = Seq.fill(n)(s"w${(math.pow(rnd.nextDouble(), 2.5) * vocabSize).toInt}")
      val k = 1 + rnd.nextInt(12)
      val exact = stream.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
      val heavy = exact.collect { case (w, c) if c > n.toLong / (k + 1) => w }.toSet
      val cands = mgOverRandomTree(stream, k, rnd)
      assert(cands.size <= k, s"trial $trial: size bound broken")
      assert(heavy.subsetOf(cands),
        s"trial $trial: missed ${heavy -- cands} (n=$n k=$k)")
    }
  }

  test("mgCandidates aggregate: vocab <= k is lossless; output sorted") {
    val d = Seq.fill(300)(Seq("a", "b", "c")(Random.nextInt(3))).toDF("w")
    val got = d.agg(Sketches.mgCandidates($"w", 8)).as[Seq[String]].head()
    assert(got === Seq("a", "b", "c"))
  }

  test("heavyHitters ≡ full GROUP BY + HAVING on the fixture, capacity < vocab") {
    val grams = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(CorpusOps.wordNgramsAll($"text", 2)).as("gram"))
    // capacity 800 < bigram vocab (~916) — the sketch must evict and still
    // reproduce the exact answer through the second pass.
    val got = CorpusOps.heavyHitters(grams, "gram", 1, 800)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val total = grams.count()
    val brute = grams.groupBy($"gram").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 800 >= total)
      .as[(String, Long)].collect().sortBy(_._1)
      .map { case (g, c) => (g, c, total) }.toSeq
    assert(got === brute && got.nonEmpty)
  }

  test("heavyHitters survives repartitioning (merge path under the gate)") {
    val grams = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(CorpusOps.wordNgramsAll($"text", 2)).as("gram"))
    val a = CorpusOps.heavyHitters(grams, "gram", 1, 800)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val b = CorpusOps.heavyHitters(grams.repartition(13), "gram", 1, 800)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }
}
