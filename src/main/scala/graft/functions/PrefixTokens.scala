package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-block token→document-frequency table for [[PrefixTokens]], packed
  * driver-side: for each block (the set-similarity join's blocking-column
  * values, stringified), tokens sorted ascending with their df values in
  * parallel arrays — lookups are allocation-free binary searches. An opaque
  * holder shipped once per task via the codegen reference array (the
  * [[CentroidPack]] pattern); content-based equality so two semantically
  * identical expressions stay canonicalization-equal.
  */
final class DfPack(val blocks: java.util.HashMap[java.util.List[String], DfPack.BlockDf])
    extends Serializable {

  override def toString: String = s"DfPack(${blocks.size} blocks)"

  override def equals(o: Any): Boolean = o match {
    case p: DfPack =>
      (p eq this) || {
        if (blocks.size != p.blocks.size) false
        else {
          val it = blocks.entrySet().iterator()
          var same = true
          while (same && it.hasNext) {
            val e = it.next()
            val other = p.blocks.get(e.getKey)
            same = other != null &&
              java.util.Arrays.equals(e.getValue.toks, other.toks) &&
              java.util.Arrays.equals(e.getValue.dfs, other.dfs)
          }
          same
        }
      }
    case _ => false
  }
  override val hashCode: Int = {
    // Order-independent fold over blocks (HashMap iteration order is not
    // canonical); computed once — the map is immutable by contract.
    var h = blocks.size
    val it = blocks.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      h ^= 31 * e.getKey.hashCode + java.util.Arrays.hashCode(e.getValue.toks)
    }
    h
  }
}

object DfPack {

  /** One block's df table: `toks` sorted ascending, `dfs(i)` the document
    * frequency of `toks(i)`.
    */
  final class BlockDf(val toks: Array[Long], val dfs: Array[Long]) extends Serializable

  /** Pack `(blockValues, token, df)` triples. Input order is free; tokens
    * are sorted per block here.
    */
  def pack(rows: Iterator[(Seq[String], Long, Long)]): DfPack = {
    val acc = new java.util.HashMap[java.util.List[String], java.util.ArrayList[(Long, Long)]]()
    rows.foreach { case (blk, tok, df) =>
      val key = java.util.List.copyOf(java.util.Arrays.asList(blk: _*))
      var l = acc.get(key)
      if (l == null) { l = new java.util.ArrayList[(Long, Long)](); acc.put(key, l) }
      l.add((tok, df))
    }
    val out = new java.util.HashMap[java.util.List[String], BlockDf](acc.size * 2)
    acc.forEach { (key, l) =>
      val arr = new Array[(Long, Long)](l.size)
      l.toArray(arr)
      java.util.Arrays.sort(arr, java.util.Comparator.comparingLong((p: (Long, Long)) => p._1))
      val toks = new Array[Long](arr.length)
      val dfs = new Array[Long](arr.length)
      var i = 0
      while (i < arr.length) { toks(i) = arr(i)._1; dfs(i) = arr(i)._2; i += 1 }
      out.put(key, new BlockDf(toks, dfs))
    }
    new DfPack(out)
  }
}

/** Static mirror the generated Java calls into. */
object PrefixTokensImpl {

  /** The PPJoin prefix of `tokens` under the per-block rare-first
    * (df ascending, token ascending) total order, as (token, rank, setSize)
    * structs — rank 1-based within the doc's full (df, token)-sorted set,
    * prefix length `m − ⌈t·m⌉ + 1`, setSize = m. Computed entirely
    * row-local: df values come from the packed driver-side table, the sort
    * runs over one doc's ~m tokens. This IS the window formulation's output
    * for the prefix rows (`row_number() over (partition by doc order by df,
    * tok)` then `rank <= m − ⌈t·m⌉ + 1`) — proved identical in
    * SetSimJoinSpec — minus the full-inverted-index shuffle the window
    * needs. The set size rides in the OUTPUT rows deliberately: a separate
    * `size(tokens)` projection becomes an `isnotnull(size(…))` constraint
    * under the candidate join's length filters, and with no exchange
    * boundary below, predicate pushdown inlines the whole shingle
    * expression into the scan stage — the measured cost was the entire
    * corpus re-shingled on ONE task (single-split parquet).
    *
    * Invariant, not input validation: every (block, token) this sees was
    * counted into the df table from the SAME relation, so a missing entry is
    * a caller bug (e.g. non-deterministic token source) and throws.
    */
  def prefix(tokens: ArrayData, block: java.util.List[String], pack: DfPack,
      threshNum: Int, threshDen: Int): ArrayData = {
    val m = tokens.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val blk = pack.blocks.get(block)
    if (blk == null) {
      throw new IllegalStateException(
        s"block $block missing from the packed df table — PrefixTokens must " +
          "be built from the same relation it runs over")
    }
    // prefixLen = m − ⌈t·m⌉ + 1 (integer ceil, exactly the column form)
    val ceilTM = (m * threshNum + (threshDen - 1)) / threshDen
    val prefixLen = m - ceilTM + 1
    if (prefixLen <= 0) return new GenericArrayData(Array.empty[Any])
    // (df, tok) sort keys; tokens within a set are distinct so the order is
    // strict and the rank deterministic.
    val toks = new Array[Long](m)
    val dfs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val t = tokens.getLong(i)
      val at = java.util.Arrays.binarySearch(blk.toks, t)
      if (at < 0) {
        throw new IllegalStateException(
          s"token $t missing from the packed df table for block $block")
      }
      toks(i) = t
      dfs(i) = blk.dfs(at)
      i += 1
    }
    sortByDfTok(dfs, toks, 0, m - 1)
    val n = math.min(prefixLen, m)
    val out = new Array[Any](n)
    var r = 0
    while (r < n) {
      out(r) = InternalRow(toks(r), r + 1, m)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** In-place dual-array quicksort by (df asc, tok asc) — no boxing, no
    * comparator indirection; insertion sort below 16 elements.
    */
  private def sortByDfTok(dfs: Array[Long], toks: Array[Long], lo: Int, hi: Int): Unit = {
    if (hi - lo < 16) {
      var i = lo + 1
      while (i <= hi) {
        val d = dfs(i); val t = toks(i)
        var j = i - 1
        while (j >= lo && (dfs(j) > d || (dfs(j) == d && toks(j) > t))) {
          dfs(j + 1) = dfs(j); toks(j + 1) = toks(j); j -= 1
        }
        dfs(j + 1) = d; toks(j + 1) = t
        i += 1
      }
    } else {
      val mid = lo + (hi - lo) / 2
      val pd = dfs(mid); val pt = toks(mid)
      var i = lo; var j = hi
      while (i <= j) {
        while (dfs(i) < pd || (dfs(i) == pd && toks(i) < pt)) i += 1
        while (dfs(j) > pd || (dfs(j) == pd && toks(j) > pt)) j -= 1
        if (i <= j) {
          val td = dfs(i); dfs(i) = dfs(j); dfs(j) = td
          val tt = toks(i); toks(i) = toks(j); toks(j) = tt
          i += 1; j -= 1
        }
      }
      if (lo < j) sortByDfTok(dfs, toks, lo, j)
      if (i < hi) sortByDfTok(dfs, toks, i, hi)
    }
  }
}

/** Codegen'd row-local PPJoin prefix selection, as a GENERATOR: children are
  * the LONG token array followed by the (string) blocking columns; `pack`
  * the driver-side per-block df table; output rows are (tok LONG, rk INT).
  * Replaces the window formulation's full-inverted-index shuffle
  * (`partition by doc order by df, tok` moves EVERY (doc, token) row — the
  * set-similarity join's single largest exchange, and a self-join runs it on
  * both sides) with a per-row sort over one doc's tokens. The df table is
  * driver-small by contract: [[graft.operators.SetSimJoin.jaccardJoin]]
  * packs it only under its df-entry cap.
  *
  * A generator rather than an array-returning expression + `explode`
  * deliberately: `InferFiltersFromGenerate` rewrites `explode(e)` into
  * `Filter(isnotnull(e) AND size(e) > 0) + Generate(explode(e))`,
  * DUPLICATING the whole expensive expression (shingling + per-row sort)
  * into a pre-Generate filter — measured 2.4× slower end-to-end. The rule
  * matches only ExplodeBase/Inline, so a custom [[CollectionGenerator]]
  * keeps single evaluation while staying on GenerateExec's
  * whole-stage-codegen path.
  */
case class PrefixTokens(children: Seq[Expression], pack: DfPack,
    threshNum: Int, threshDen: Int) extends Expression
    with org.apache.spark.sql.catalyst.expressions.CollectionGenerator {
  require(children.nonEmpty, "PrefixTokens needs (tokens, blockCols...)")
  require(threshNum > 0 && threshNum <= threshDen, "threshold must be in (0, 1]")

  override def elementSchema: StructType =
    StructType(Seq(StructField("tok", LongType, nullable = false),
      StructField("rk", IntegerType, nullable = false),
      StructField("sz", IntegerType, nullable = false)))
  override def position: Boolean = false
  override def inline: Boolean = true
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def prettyName: String = "graft_prefix_tokens"

  override def checkInputDataTypes(): TypeCheckResult = {
    val tokOk = children.head.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (!tokOk) {
      TypeCheckResult.TypeCheckFailure(
        s"graft_prefix_tokens expects ARRAY<BIGINT> tokens, got " +
          children.head.dataType.catalogString)
    } else if (children.tail.exists(_.dataType != StringType)) {
      TypeCheckResult.TypeCheckFailure(
        "graft_prefix_tokens blocking columns must be STRING, got " +
          children.tail.map(_.dataType.catalogString).mkString(", "))
    } else TypeCheckResult.TypeCheckSuccess
  }

  /** Null tokens or a null block value generate NOTHING (the row drops, as
    * with `explode` of a null array) — never a shared degenerate bucket.
    */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = evalToArray(input)
    if (arr == null) Iterator.empty
    else (0 until arr.numElements()).iterator.map(i => arr.getStruct(i, 3))
  }

  /** The collection form the codegen path produces; null for null inputs. */
  private[graft] def evalToArray(input: InternalRow): ArrayData = {
    val toks = children.head.eval(input)
    if (toks == null) return null
    val blk = new java.util.ArrayList[String](children.size - 1)
    var i = 1
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      blk.add(v.asInstanceOf[UTF8String].toString)
      i += 1
    }
    PrefixTokensImpl.prefix(
      toks.asInstanceOf[ArrayData], blk, pack, threshNum, threshDen)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val packRef = ctx.addReferenceObj("dfPack", pack, classOf[DfPack].getName)
    val toksGen = children.head.genCode(ctx)
    val blkGens = children.tail.map(_.genCode(ctx))
    val blkName = ctx.freshName("blk")
    val blockEvals = blkGens.map { g =>
      code"""
if (!${ev.isNull}) {
  ${g.code}
  if (${g.isNull}) { ${ev.isNull} = true; } else { $blkName.add(${g.value}.toString()); }
}"""
    }.foldLeft[Block](EmptyBlock)(_ + _) // no blocking columns: one empty block key
    ev.copy(code =
      code"""
${toksGen.code}
boolean ${ev.isNull} = ${toksGen.isNull};
org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
java.util.ArrayList<String> $blkName = new java.util.ArrayList<String>(${children.size - 1});
$blockEvals
if (!${ev.isNull}) {
  ${ev.value} = graft.functions.PrefixTokensImpl.prefix(
    ${toksGen.value}, $blkName, $packRef, $threshNum, $threshDen);
}""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PrefixTokens =
    copy(children = newChildren)
}
