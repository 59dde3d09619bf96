package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HashSampleBuffer, KmvBuffer, MgBuffer, SketchBuffer, SketchCodec}

/** The sketch protocol: each buffer's encoding round-trips, a merge tree
  * over any split of the input lands where one pass does, and no main
  * source outside the protocol file declares an aggregate buffer or a
  * byte codec of its own.
  */
class SketchProtocolSpec extends AnyFunSuite {

  /** Splits `xs` at random cuts into buffers (empty runs included), then
    * merges neighbours in random order until one buffer is left.
    */
  private def mergeTree[A, B <: SketchBuffer[B]](xs: Seq[A], codec: SketchCodec[B], k: Int,
      rnd: Random)(insert: (B, A) => Unit): B = {
    val cuts = (0 +: Seq.fill(rnd.nextInt(6))(rnd.nextInt(xs.size + 1)) :+ xs.size).sorted
    var bufs = cuts.zip(cuts.tail).map { case (a, b) =>
      val buf = codec.empty(k)
      xs.slice(a, b).foreach(insert(buf, _))
      buf
    }.toVector
    while (bufs.size > 1) {
      val i = rnd.nextInt(bufs.size - 1)
      bufs = bufs.patch(i, Seq(bufs(i).merge(bufs(i + 1))), 2)
    }
    bufs.head
  }

  private def kmvState(b: KmvBuffer) = b.mins.take(b.n).toSeq
  private def sampleState(b: HashSampleBuffer) = (b.hashes.take(b.n).toSeq, b.vals.take(b.n).toSeq)

  test("KMV: encode/decode is the identity; any split/merge tree equals one pass") {
    for (trial <- 0 until 100) {
      val rnd = new Random(2000 + trial)
      val k = 2 + rnd.nextInt(20)
      val hashes = Seq.fill(rnd.nextInt(200))(rnd.nextInt(60).toLong)
      val one = KmvBuffer.empty(k)
      hashes.foreach(one.insert)
      assert(kmvState(KmvBuffer.decode(k, one.encode())) === kmvState(one), s"trial $trial")
      val tree = mergeTree(hashes, KmvBuffer, k, rnd)(_.insert(_))
      assert(kmvState(tree) === kmvState(one), s"trial $trial (k=$k)")
    }
  }

  test("hash sample: encode/decode is the identity; any split/merge tree equals one pass") {
    for (trial <- 0 until 100) {
      val rnd = new Random(3000 + trial)
      val k = 2 + rnd.nextInt(20)
      val pairs = Seq.fill(rnd.nextInt(200))((rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
      val one = HashSampleBuffer.empty(k)
      pairs.foreach { case (h, v) => one.insert(h, v) }
      assert(sampleState(HashSampleBuffer.decode(k, one.encode())) === sampleState(one),
        s"trial $trial")
      val tree = mergeTree(pairs, HashSampleBuffer, k, rnd) { case (b, (h, v)) => b.insert(h, v) }
      assert(sampleState(tree) === sampleState(one), s"trial $trial (k=$k)")
    }
  }

  test("Misra–Gries: encode/decode is the identity; lossless split/merge trees equal " +
      "one pass") {
    // MG is order-free only while the vocabulary fits in k (every count is
    // then exact); above that the guarantee, not the state, is what merge
    // trees keep (MisraGriesSpec).
    for (trial <- 0 until 100) {
      val rnd = new Random(4000 + trial)
      val vocab = 1 + rnd.nextInt(12)
      val items = Seq.fill(rnd.nextInt(300))(s"w${rnd.nextInt(vocab)}é")
      val k = vocab + rnd.nextInt(3)
      val one = MgBuffer.empty(k)
      items.foreach(one.add(_, 1L))
      assert(one.counts.toMap === items.groupBy(identity).map { case (w, o) => w -> o.size.toLong })
      assert(MgBuffer.decode(k, one.encode()).counts === one.counts, s"trial $trial")
      val tree = mergeTree(items, MgBuffer, k, rnd)(_.add(_, 1L))
      assert(tree.counts === one.counts, s"trial $trial (k=$k)")
      val small = MgBuffer.empty(1 + rnd.nextInt(4))
      items.foreach(small.add(_, 1L))
      assert(MgBuffer.decode(small.k, small.encode()).counts === small.counts, s"trial $trial")
    }
  }

  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala"))
      .toList finally s.close()
  }

  test("convention guard: one TypedImperativeAggregate, byte codecs only in the buffers") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val aggregates = for {
      f <- files(root) if f != root.resolve("graft/functions/SketchAggregate.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if "(extends|with)\\s+TypedImperativeAggregate".r.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(aggregates.isEmpty, aggregates.mkString("\n", "\n", ""))

    // A ByteBuffer may only be allocated or wrapped inside `encode` or
    // `decode` of a buffer class or its companion.
    val owner = "^(?:final |abstract )?(?:case )?(?:class|object|trait) (\\w+)".r.unanchored
    val method = "^\\s+(?:override )?def (\\w+)".r.unanchored
    val buffers = Set("KmvBuffer", "HashSampleBuffer", "MgBuffer")
    val codecs = for {
      f <- files(root.resolve("graft/functions"))
      lines = Files.readAllLines(f).asScala.toVector
      (line, i) <- lines.zipWithIndex
      if "ByteBuffer\\.(allocate|wrap)".r.findFirstIn(line).isDefined
    } yield {
      val above = lines.take(i + 1).reverse
      val cls = above.collectFirst { case owner(n) => n }.getOrElse("")
      val dfn = above.collectFirst { case method(n) => n }.getOrElse("")
      (buffers(cls) && Set("encode", "decode")(dfn), s"$f:${i + 1} ($cls.$dfn): ${line.trim}")
    }
    val strays = codecs.collect { case (false, at) => at }
    assert(strays.isEmpty, strays.mkString("\n", "\n", ""))
    assert(codecs.size <= 6, codecs.map(_._2).mkString("\n", "\n", ""))
  }
}
