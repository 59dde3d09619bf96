package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

import graft.meta.PgCatalog
import graft.sink.{ConnectionFactory, SinkConnection}

/** Spans and counts recorded at the benchmark's calls into each layer.
  *
  * A span has a name, start and end (ns since the run's origin), the id of
  * the span that was open on the calling thread, and the id of the
  * operation it belongs to. Sink spans run on executor threads, whose
  * parent is the operation's open `sink.upsert` span. Spans stay in memory
  * and are written out when the run ends. Everything is off unless
  * [[enable]] is called, so the untraced run pays one volatile read per
  * call. Executors share this JVM (`local[n]`), so the counters see them.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

  @volatile private var on = false
  private val origin = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Long]]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var currentOp = 0L
  @volatile private var sinkParent = 0L

  def enable(): Unit = on = true

  def add(name: String, n: Long = 1L): Unit =
    if (on) counts.computeIfAbsent(name, _ => new LongAdder).add(n)
  def sample(name: String, v: Long): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Long]).add(v)

  def count(name: String): Long = Option(counts.get(name)).map(_.sum).getOrElse(0L)
  def samplesOf(name: String): Seq[Long] =
    Option(samples.get(name)).map(_.asScala.toIndexedSeq).getOrElse(Nil)

  /** Zero every counter and sample (spans are kept). */
  def resetCounts(): Unit = { counts.clear(); samples.clear() }

  /** Run `body` as operation `op`: every span it opens carries the id. */
  def operation[A](name: String)(body: => A): A = {
    currentOp = ids.incrementAndGet()
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A = if (!on) body else {
    val id = ids.incrementAndGet()
    val stack = open.get
    val parent = stack.headOption.getOrElse(if (name.startsWith("sink.") && name != "sink.upsert") sinkParent else 0L)
    open.set(id :: stack)
    if (name == "sink.upsert") sinkParent = id
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(stack)
      spans.add(Span(id, parent, currentOp, name, t0 - origin, t1 - origin))
      add(s"$name.calls")
      add(s"$name.ns", t1 - t0)
    }
  }

  def spansSnapshot: Seq[Span] = spans.asScala.toIndexedSeq

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spansSnapshot.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counting, timing decorator over the sink's connection seam. Every call
  * that waits for the server is one round trip. A top-level batch runs from
  * the first call after connect or commit to the end of its commit; with a
  * poison key set installed, each top-level batch also records the
  * positions of its poison rows for the split self-check.
  */
final case class CountingConnectionFactory(inner: ConnectionFactory, keyIndex: Int)
  extends ConnectionFactory {
  def connect(): SinkConnection = {
    val t0 = System.nanoTime()
    val c = Trace.span("sink.connect")(inner.connect())
    Trace.add("sink.connects")
    new CountingConnection(c, keyIndex, t0, System.nanoTime() - t0)
  }
}

object SplitCheck {
  @volatile var poisonKeys: Set[Long] = Set.empty
  /** (batch size, poison positions) of every top-level batch, in order. */
  val batches = new ConcurrentLinkedQueue[(Int, Seq[Int])]()

  /** What the sink's recursive binary split must cost for one batch whose
    * poison rows sit at `poison`: (executeBatch calls, rows sent, rollbacks).
    */
  def expected(size: Int, poison: Seq[Int]): (Long, Long, Long) = {
    var calls, rows, rollbacks = 0L
    var stack = List((0, size))
    while (stack.nonEmpty) {
      val (from, n) = stack.head
      stack = stack.tail
      calls += 1
      rows += n
      if (poison.exists(p => p >= from && p < from + n)) {
        rollbacks += 1
        if (n > 1) stack = (from, n / 2) :: (from + n / 2, n - n / 2) :: stack
      }
    }
    (calls, rows, rollbacks)
  }
}

final class CountingConnection(inner: SinkConnection, keyIndex: Int, openedNs: Long, connectNs: Long)
  extends SinkConnection {
  private var insideNs = connectNs
  private var batchStart = 0L
  private var firstOfBatch = true

  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    if (batchStart == 0L) batchStart = t0
    try Trace.span(name)(body)
    finally {
      insideNs += System.nanoTime() - t0
      Trace.add("sink.round_trips")
    }
  }

  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
    if (firstOfBatch) {
      firstOfBatch = false
      val poison = SplitCheck.poisonKeys
      if (poison.nonEmpty)
        SplitCheck.batches.add((batch.size, batch.indices.filter(i =>
          poison.contains(batch(i)(keyIndex).asInstanceOf[Long]))))
    }
    Trace.add("sink.exec_calls")
    Trace.add("sink.exec_rows", batch.size.toLong)
    try timed("sink.exec")(inner.executeBatch(sql, batch))
    catch { case e: Throwable => Trace.add("sink.exec_failed"); throw e }
  }
  def savepoint(name: String): Unit = { Trace.add("sink.savepoints"); timed("sink.savepoint")(inner.savepoint(name)) }
  def rollbackTo(name: String): Unit = { Trace.add("sink.rollbacks"); timed("sink.rollback")(inner.rollbackTo(name)) }
  def release(name: String): Unit = timed("sink.release")(inner.release(name))
  def commit(): Unit = {
    timed("sink.commit")(inner.commit())
    Trace.add("sink.commits")
    Trace.sample("sink.batch_ns", System.nanoTime() - batchStart)
    batchStart = 0L
    firstOfBatch = true
  }
  def close(): Unit = {
    val t0 = System.nanoTime()
    inner.close()
    val t1 = System.nanoTime()
    insideNs += t1 - t0
    Trace.add("sink.task_ns", t1 - openedNs)
    Trace.add("sink.inside_ns", insideNs)
  }
}

/** Counting, timing decorator over the catalog seam. */
final class CountingCatalog(inner: PgCatalog) extends PgCatalog {
  def columnTypes(schema: String, table: String) =
    Trace.span("catalog.columnTypes")(inner.columnTypes(schema, table))
  def uniqueKey(schema: String, table: String) =
    Trace.span("catalog.uniqueKey")(inner.uniqueKey(schema, table))
}
