package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the dedup/similarity hot paths.
  *
  * Each computes an entire per-document signature in ONE pass over an
  * input array — composing built-ins would explode every token/
  * shingle into its own row (a 100-1000× row blowup plus a shuffle
  * for the re-group), which is unusable at 100 TB. As native
  * expressions they run inside the scan stage with zero shuffle.
  *
  * The hot-path expressions (ShingleHashes, MinHashSignature,
  * WordShingles, TermFrequencies) generate a single static-kernel
  * call (doGenCode → ShingleSupport), so they stay inside the scan's
  * whole-stage codegen with no per-row boxed eval; model-carrying
  * rarities (PqEncode, TextStats, …) keep CodegenFallback — one
  * virtual call per row, with the inner loops still plain JVM arrays
  * (unlike a Scala UDF there is no encoder ser/de either way).
  */
object MixConstants {
  // splitmix64 finalizer — the standard public-domain bit mixer.
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** MinHash signature: array<long> shingle hashes → array<long>(n)
  * where slot i = unsigned-min over shingles of (a_i*x + b_i) with
  * seeded odd multipliers (a 64-bit multiply-shift universal hash).
  */
case class MinHashSignature(child: Expression, numPerms: Int, seed: Long)
    extends UnaryExpression with GraftExpectsInputTypes {
  import MixConstants.mix64
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  // Derived deterministically from the seed; odd multipliers.
  private lazy val as: Array[Long] = Array.tabulate(numPerms)(i => mix64(seed + 2L * i) | 1L)
  private lazy val bs: Array[Long] = Array.tabulate(numPerms)(i => mix64(seed + 2L * i + 1L))

  override def nullSafeEval(input: Any): Any =
    ShingleSupport.minhash(input.asInstanceOf[ArrayData], as, bs)
  // Static kernel call with the permutation tables passed once as
  // codegen references — not CodegenFallback's per-row boxed eval.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleSupport.minhash($c, $asRef, $bsRef)")
  }
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

/** SimHash: array<long> token hashes → 64-bit fingerprint. Bit j is
  * set when the weighted sum of bit j across token hashes is
  * positive.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with GraftExpectsInputTypes with CodegenFallback {
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData].toLongArray()
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.length) {
      val h = arr(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Word n-gram shingles in ONE pass over the string: whitespace
  * tokenization (no regex) + windowed join, distinct. A composed
  * split+transform pipeline pays Catalyst's project-collapse tax —
  * the split gets inlined into the lambda and re-executes per array
  * element; this expression scans the text exactly once.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with GraftExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleSupport.wordShingles(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleSupport.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** Distinct word n-gram shingles hashed to 64 bits, one pass, no
  * string materialization of the shingle (hash is computed over the
  * token hashes with a mixing chain). n = 1 gives per-token hashes
  * (the SimHash input).
  */
case class ShingleHashes(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with GraftExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleSupport.shingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, distinct)
  // One static kernel call instead of CodegenFallback's boxed
  // references[i].eval(row): keeps the scan's whole-stage codegen
  // span intact and skips the per-row InternalRow copy (delta
  // measured on the 10x corpus in commit a87e2a6's scale notes).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleSupport.shingleHashes($c, $n, $distinct)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** Per-document text statistics in ONE pass: length, token count,
  * punctuation count, stopword hits, summed token length — the
  * feature inputs of quality scoring. Exists for the same reason as
  * WordShingles: expressing these via split()+lambda built-ins lets
  * project-collapse inline the (possibly regex-heavy) text expression
  * into every lambda element evaluation.
  */
/** splitmix64 finalizer as a scalar long→long SQL function — the
  * deterministic 64-bit mixer already underlying
  * [[MinHashSignature]]'s seeded permutations, exposed for hash-based
  * routing: train/val/test splits, deterministic sharding, salted
  * keys. Pure scalar arithmetic, so unlike the array expressions it
  * gets REAL codegen (an inline static call, no CodegenFallback) and
  * stays inside whole-stage codegen on the scan path.
  */
case class Mix64(child: Expression)
    extends UnaryExpression with GraftExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def graftInputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "mix64"
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(MixConstants.mix64(input.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MixConstants.mix64($c)")
  override protected def withNewChildInternal(c: Expression): Mix64 = copy(child = c)
}

/** One-pass per-document term-frequency counter for a BOUNDED literal
  * term list: returns struct(dl, tfs[i]) = (token count, occurrences
  * of term i). The composed-built-ins alternative — one
  * `size(filter(split(...)))` per term — re-tokenizes the text once
  * PER TERM after Catalyst's project collapse inlines the split into
  * every lambda (the same pitfall [[ShingleHashes]] exists to avoid);
  * this walks the tokens exactly once regardless of term count.
  */
case class TermFrequencies(child: Expression, terms: Seq[String])
    extends UnaryExpression with GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("tfs", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "term_frequencies"

  // last-wins map: a duplicate term would silently zero the earlier
  // slot (its count lands only in the later index) — reject up front
  require(terms.distinct.size == terms.size, "duplicate terms in term list")

  // Integer values, not Int: a miss must surface as null, never
  // auto-unbox to 0 (= silently counting every unknown token as term 0)
  private lazy val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    terms.zipWithIndex.foreach { case (t, i) => m.put(t, Integer.valueOf(i)) }
    m
  }

  override def nullSafeEval(input: Any): Any =
    ShingleSupport.termFrequencies(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], index, terms.size)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val idxRef = ctx.addReferenceObj("termIndex", index, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleSupport.termFrequencies($c, $idxRef, ${terms.size})")
  }
  override protected def withNewChildInternal(c: Expression): TermFrequencies = copy(child = c)
}

/** Product-quantization encoder: array<float> embedding → array<int>
  * of `m` subspace codes, code s = argmin over the subspace's
  * centroids of the squared L2 distance to the embedding's s-th
  * slice (ties → smallest code). Centroids are carried as literals in
  * the expression (trainer: [[graft.similarity.Similarity]]), so
  * encoding is a pure narrow map over the scan — the PQ analogue of
  * IVF's literal-centroid assignment. One expression node instead of
  * the m·ksub·subDim-term built-in spelling, which would blow past
  * codegen method limits.
  *
  * All arithmetic is double with the dim loop in ascending order, so
  * a SQL replay that folds the same order reproduces codes exactly
  * (centroids are float32, exact in double).
  */
/** Static kernels for the IVF coarse-quantizer expressions. The
  * cosine accumulation is bit-for-bit [[CosineSimilarity]]'s loop
  * (double, index-ascending), so these reproduce the composed
  * array(struct(cosine_sim(...)))/array_max/array_sort spelling they
  * replace EXACTLY — including its null laws (zero-norm → the
  * struct-comparison null-first order) — and the DuckDB oracles that
  * replay that math keep hashing identically.
  */
object CentroidSupport {
  private def cos(emb: ArrayData, c: Array[Float]): Double = {
    val n = math.min(emb.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble; val y = c(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  /** argmax-cosine cell id, ties → smallest id; zero-norm (null)
    * cosines never win, and the all-null row lands on cell 0 — the
    * array_max(struct(cos, -cid)) null-first law.
    */
  def best(emb: ArrayData, cents: Array[Array[Float]]): Int = {
    var bestId = 0
    var bestCos = Double.NegativeInfinity
    var seen = false
    var c = 0
    while (c < cents.length) {
      val s = cos(emb, cents(c))
      if (!s.isNaN && (!seen || s > bestCos)) { bestCos = s; bestId = c; seen = true }
      c += 1
    }
    bestId
  }

  /** The nprobe nearest cell ids (cos desc, id asc). Zero-norm (null)
    * cosines sort FIRST — array_sort's struct-comparison null-first
    * law for the (negcos, cell) spelling this replaces.
    */
  def nearest(emb: ArrayData, cents: Array[Array[Float]], nprobe: Int): ArrayData = {
    val k = cents.length
    val neg = new Array[Double](k)
    var c = 0
    while (c < k) {
      val s = cos(emb, cents(c))
      neg(c) = if (s.isNaN) Double.NegativeInfinity else -s
      c += 1
    }
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var slot = 0
    while (slot < m) {
      var bi = -1
      var bv = Double.PositiveInfinity
      c = 0
      while (c < k) {
        if (!taken(c) && neg(c) < bv) { bv = neg(c); bi = c }
        c += 1
      }
      taken(bi) = true
      out(slot) = bi
      slot += 1
    }
    new GenericArrayData(out)
  }
}

/** Best (max-cosine) centroid id for a float vector against a
  * literal centroid matrix — the IVF assignment map as ONE compact
  * codegen expression. The composed spelling (array of k
  * struct(cosine_sim, -cid) literals + array_max) grows a per-row
  * expression tree linear in k that falls out of whole-stage codegen
  * past a few dozen cells and drags the surrounding stage with it
  * (measured 0.25 ms/row at k=40 — 20× the kernel); this keeps
  * assignment a register-friendly static call at any k.
  */
case class BestCell(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression with GraftExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "best_cell"
  require(centroids.nonEmpty, "k >= 1")

  @transient private lazy val cmat: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    CentroidSupport.best(v.asInstanceOf[ArrayData], cmat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cmat, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CentroidSupport.best($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): BestCell = copy(child = c)
}

/** The nprobe nearest centroid ids (cos desc, id asc) — [[BestCell]]'s
  * multi-probe sibling for the IVF query side.
  */
case class NearestCells(child: Expression, centroids: Seq[Seq[Float]], nprobe: Int)
    extends UnaryExpression with GraftExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"
  require(centroids.nonEmpty && nprobe >= 1, "k >= 1, nprobe >= 1")

  @transient private lazy val cmat: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    CentroidSupport.nearest(v.asInstanceOf[ArrayData], cmat, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cmat, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CentroidSupport.nearest($c, $ref, $nprobe)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCells = copy(child = c)
}

case class PqEncode(child: Expression, centroids: Seq[Seq[Seq[Float]]])
    extends UnaryExpression with GraftExpectsInputTypes with CodegenFallback {
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  require(centroids.nonEmpty && centroids.forall(_.nonEmpty), "m >= 1, ksub >= 1")

  @transient private lazy val cents: Array[Array[Array[Float]]] =
    centroids.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val emb = v.asInstanceOf[ArrayData].toFloatArray()
    val m = cents.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val sub = cents(s)
      val subDim = sub(0).length
      val off = s * subDim
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < sub.length) {
        val ce = sub(c)
        var acc = 0.0
        var d = 0
        while (d < subDim) {
          val diff = emb(off + d).toDouble - ce(d).toDouble
          acc += diff * diff
          d += 1
        }
        if (acc < bestD) { bestD = acc; best = c } // strict < : ties keep the smaller code
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/** ADC lookup-table builder: array<float> query embedding →
  * array<double> of m·ksub entries, slot s·ksub + c = squared L2
  * distance between the query's s-th slice and centroid c of
  * subspace s. Computed ONCE per query row; each (query, code-row)
  * pair then scores with m array lookups + adds instead of a full
  * dim-loop — the asymmetric-distance trick that makes PQ scans
  * cheap. Same fixed-order double math as [[PqEncode]].
  */
case class PqAdcTable(child: Expression, centroids: Seq[Seq[Seq[Float]]])
    extends UnaryExpression with GraftExpectsInputTypes with CodegenFallback {
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_adc_table"
  require(centroids.nonEmpty && centroids.forall(_.nonEmpty), "m >= 1, ksub >= 1")

  @transient private lazy val cents: Array[Array[Array[Float]]] =
    centroids.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val emb = v.asInstanceOf[ArrayData].toFloatArray()
    val m = cents.length
    val ksub = cents(0).length
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      val sub = cents(s)
      val subDim = sub(0).length
      val off = s * subDim
      var c = 0
      while (c < ksub) {
        val ce = sub(c)
        var acc = 0.0
        var d = 0
        while (d < subDim) {
          val diff = emb(off + d).toDouble - ce(d).toDouble
          acc += diff * diff
          d += 1
        }
        out(s * ksub + c) = acc
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): PqAdcTable = copy(child = c)
}

case class TextStats(child: Expression, stopwords: Seq[String], punct: String)
    extends UnaryExpression with GraftExpectsInputTypes with CodegenFallback {
  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("len_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("punct_count", LongType, nullable = false),
    StructField("stopword_count", LongType, nullable = false),
    StructField("token_len_sum", LongType, nullable = false)))
  override def prettyName: String = "text_stats"

  private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    var punctCount = 0L
    var i = 0
    while (i < s.length) {
      if (punct.indexOf(s.charAt(i)) >= 0) punctCount += 1
      i += 1
    }
    val toks = ShingleSupport.tokenize(s)
    var stop = 0L
    var lenSum = 0L
    var t = 0
    while (t < toks.length) {
      if (stopSet.contains(toks(t))) stop += 1
      lenSum += toks(t).length
      t += 1
    }
    InternalRow(s.length.toLong, toks.length.toLong, punctCount, stop, lenSum)
  }
  override protected def withNewChildInternal(c: Expression): TextStats = copy(child = c)
}

object ShingleSupport {
  import MixConstants.mix64

  /** Whitespace tokenizer (any run of whitespace splits; no regex). */
  def tokenize(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  // Static kernels below are the eval bodies of the text expressions,
  // hoisted so doGenCode can emit ONE static call (the Mix64 pattern)
  // instead of CodegenFallback's per-row `references[i].eval(row)` —
  // which boxes the input through an InternalRow copy and blocks the
  // scan's whole-stage codegen from keeping the value in a register.
  // Scala objects emit static forwarders, so Janino-generated Java
  // calls these directly.

  /** [[ShingleHashes]] kernel. */
  def shingleHashes(input: org.apache.spark.unsafe.types.UTF8String,
                    n: Int, distinct: Boolean): ArrayData = {
    val toks = tokenize(input.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val tokHash = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      var h = 1469598103934665603L // FNV-1a 64 over UTF-16 code units
      val s = toks(i)
      var c = 0
      while (c < s.length) { h = (h ^ s.charAt(c)) * 1099511628211L; c += 1 }
      tokHash(i) = mix64(h)
      i += 1
    }
    val m = toks.length - n + 1
    val raw = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < n) { h = mix64(h ^ tokHash(i + j)); j += 1 }
      raw(i) = h
      i += 1
    }
    if (!distinct) return new GenericArrayData(raw)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < m) { seen.add(raw(i)); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** [[MinHashSignature]] kernel (as/bs arrive as codegen references). */
  def minhash(input: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val arr = input.toLongArray()
    val numPerms = as.length
    val sig = Array.fill(numPerms)(-1L) // unsigned max
    var i = 0
    while (i < arr.length) {
      val x = arr(i)
      var p = 0
      while (p < numPerms) {
        val h = as(p) * x + bs(p)
        if (java.lang.Long.compareUnsigned(h, sig(p)) < 0) sig(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** [[WordShingles]] kernel. */
  def wordShingles(input: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val toks = tokenize(input.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next()); k += 1
    }
    new GenericArrayData(out)
  }

  /** [[TermFrequencies]] kernel (index arrives as a codegen reference). */
  def termFrequencies(input: org.apache.spark.unsafe.types.UTF8String,
                      index: java.util.HashMap[String, Integer],
                      nTerms: Int): InternalRow = {
    val toks = tokenize(input.toString)
    val tfs = new Array[Long](nTerms)
    var t = 0
    while (t < toks.length) {
      val i = index.get(toks(t))
      if (i != null) tfs(i.intValue()) += 1L
      t += 1
    }
    InternalRow(toks.length.toLong, new GenericArrayData(tfs))
  }
}

/** Cosine similarity between two float vectors, accumulated in
  * double precision (matches DuckDB's list_cosine_similarity).
  *
  * Full codegen (doGenCode): this expression sits inside the
  * candidate-scoring joins of every similarity/dedup operator — per
  * PAIR, not per row — so it stays inside whole-stage codegen with a
  * primitive loop (no ArrayData boxing per call). Assumes
  * null-free float arrays (embedding columns).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with GraftExpectsInputTypes {
  // array<float> ONLY: codegen reads 4-byte slots (getFloat) — on an
  // array<double> input it would silently misread half-slots, so the
  // type check turns garbage-at-runtime into an analysis error.
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
         |""".stripMargin
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData].toFloatArray()
    val b = r.asInstanceOf[ArrayData].toFloatArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket: float vector → numPlanes sign bits
  * packed into an int. Planes are pseudo-random unit-free gaussians
  * derived deterministically from the seed (splitmix64 → uniform
  * [-1, 1); for sign-of-dot LSH the distribution family only needs
  * symmetry around 0).
  */
case class HyperplaneBucket(child: Expression, numPlanes: Int, seed: Long)
    extends UnaryExpression with GraftExpectsInputTypes with CodegenFallback {
  import MixConstants.mix64
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_bucket"

  // Plane components live in a seed-keyed virtual grid — component
  // (p, d) = mix64(seed + p*(1<<20) + d), uniform in [-1, 1) — so any
  // embedding width works (1536/3072-dim LLM embeddings included).
  // The table is materialized lazily at the first eval and regrown if
  // a wider vector appears; a concurrent regrow just recomputes the
  // same deterministic values, so the benign race needs no lock.
  @transient private var planes: Array[Array[Double]] = _

  private def planesFor(dim: Int): Array[Array[Double]] = {
    var t = planes
    if (t == null || t(0).length < dim) {
      t = Array.tabulate(numPlanes, dim) { (p, d) =>
        (mix64(seed + p.toLong * (1L << 20) + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
      planes = t
    }
    t
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toFloatArray()
    val tbl = planesFor(v.length)
    var bucket = 0
    var p = 0
    while (p < numPlanes) {
      val plane = tbl(p)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * plane(d); d += 1 }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    java.lang.Integer.valueOf(bucket)
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneBucket = copy(child = c)
}

/** Column-API + SQL registration for the custom expressions. */
object GraftFunctions {
  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  def minhash_signature(c: Column, numPerms: Int = 128, seed: Long = 42L): Column =
    col(MinHashSignature(ex(c), numPerms, seed))
  def simhash64(c: Column): Column = col(SimHash64(ex(c)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(ex(a), ex(b)))
  def hyperplane_bucket(c: Column, numPlanes: Int = 16, seed: Long = 42L): Column =
    col(HyperplaneBucket(ex(c), numPlanes, seed))
  def word_shingles(c: Column, n: Int = 3): Column = col(WordShingles(ex(c), n))
  def text_stats(c: Column, stopwords: Seq[String], punct: String = ".,!?;:"): Column =
    col(TextStats(ex(c), stopwords, punct))
  def shingle_hashes(c: Column, n: Int = 3, distinct: Boolean = true): Column =
    col(ShingleHashes(ex(c), n, distinct))
  def mix64(c: Column): Column = col(Mix64(ex(c)))
  def term_frequencies(c: Column, terms: Seq[String]): Column =
    col(TermFrequencies(ex(c), terms))
  // Scala-only (not in sqlFunctions): the centroid matrix parameter
  // is a trained model, not a SQL-literal — same exclusion a SQL
  // engine applies to model-carrying functions.
  def pq_encode(c: Column, centroids: Seq[Seq[Seq[Float]]]): Column =
    col(PqEncode(ex(c), centroids))
  def pq_adc_table(c: Column, centroids: Seq[Seq[Seq[Float]]]): Column =
    col(PqAdcTable(ex(c), centroids))

  /** The single source of truth for SQL-surface registration —
    * (name, usage, builder). Both registration paths
    * ([[register]] for programmatic sessions and
    * [[graft.plans.GraftExtensions]] for `spark.sql.extensions`
    * pure-SQL sessions) iterate THIS list, so the two surfaces can
    * never diverge.
    */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("minhash_signature", "minhash_signature(hashes) - 128-perm minhash signature",
      (es: Seq[Expression]) => MinHashSignature(es.head, 128, 42L)),
    ("simhash64", "simhash64(hashes) - 64-bit simhash",
      (es: Seq[Expression]) => SimHash64(es.head)),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors",
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("word_shingles", "word_shingles(text) - distinct word 3-gram shingles",
      (es: Seq[Expression]) => WordShingles(es.head, 3)),
    ("shingle_hashes", "shingle_hashes(text) - hashed distinct word 3-grams",
      (es: Seq[Expression]) => ShingleHashes(es.head, 3)),
    ("hyperplane_bucket", "hyperplane_bucket(vec) - 16-plane LSH bucket of a float vector",
      (es: Seq[Expression]) => HyperplaneBucket(es.head, 16, 42L)),
    ("text_stats", "text_stats(text) - one-pass text statistics struct",
      (es: Seq[Expression]) => TextStats(es.head, graft.text.TextAnalysis.stopwords, ".,!?;:")),
    ("mix64", "mix64(x) - splitmix64 finalizer of a 64-bit integer",
      (es: Seq[Expression]) => Mix64(es.head)),
    ("term_frequencies", "term_frequencies(text, 'term', ...) - one-pass struct(dl, tfs) for literal terms",
      (es: Seq[Expression]) => {
        require(es.size >= 2 && es.tail.forall(_.foldable),
          "term_frequencies takes a text column plus literal term strings")
        TermFrequencies(es.head, es.tail.map(e => e.eval(InternalRow.empty).toString))
      }))

  /** Register for SQL use (`SELECT cosine_sim(a, b) ...`). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, builder) =>
      GraftBridge.registerFunction(spark, name, builder)
    }
}
