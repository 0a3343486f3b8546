package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expressions for the signature-heavy dedup operators.
  *
  * The composable forms in [[graft.functions.NearDup]] build SimHash/MinHash
  * out of higher-order functions (`aggregate`/`transform`), which Spark
  * evaluates interpreted, per element, with closure overhead — 64
  * re-traversals of the token array for SimHash, k re-traversals (and k
  * re-hashes of every shingle) for MinHash. These expressions do the same
  * math in one imperative pass per row: hash each element once, update all
  * counters/minima in a tight loop. Same inputs, same outputs, ~10× less
  * per-row work at 100 TB.
  *
  * Each implements `doGenCode` as a direct call to its imperative kernel
  * (`compute`). The kernel itself has no per-element expression tree for
  * whole-stage codegen to fuse — but a `CodegenFallback` marker would kick
  * the WHOLE containing stage (scan → filter → project) out of whole-stage
  * codegen (`CollapseCodegenStages` rejects any plan holding one), making
  * every OTHER expression in the signature projection interpreted too.
  */

/** 64-bit SimHash of an array<string>: per bit, sign of Σ ±1 votes from each
  * element's xxhash64 (seed 42, matching Spark's `xxhash64`).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftFunctions.requireStringArray(prettyName, child)

  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit PORTABLE SimHash of an array<string>: per bit, sign of Σ ±1
  * votes from each element's md5-prefix hash — the first 15 hex chars
  * (60 bits) of the standard md5 digest, i.e.
  * `conv(substr(md5(t), 1, 15), 16, 10)`. md5 rather than xxhash64 is the
  * q52/q110 "portable hash" discipline: the signature is recomputable by
  * ANY engine or language with an md5 implementation (DuckDB reproduces
  * it with nibble parsing — the q25 oracle), so near-dup signatures can be
  * re-derived years later without Spark. 15 hex chars, not 16: the full
  * 64-bit value can exceed Long.MaxValue, and a 60-bit positive long
  * round-trips every integer path exactly. Bits 60–63 are always 0.
  */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_md5"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftFunctions.requireStringArray(prettyName, child)

  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](60)
    val md = SimHashMd5.digest.get()
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 7 bytes + the high nibble of byte 8 = 15 hex chars, 60 bits
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        h = (h << 4) | ((d(7) & 0xf0L) >>> 4)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashMd5", this)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

object SimHashMd5 {
  /** One digest per task thread — MessageDigest is stateful and not
    * thread-safe; per-row getInstance would dominate the kernel.
    */
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** MinHash signature (array<long> of length k) of an array<string> shingle
  * set: h_i(s) = (a_i·x + b_i) mod p over x = xxhash64(s) mod p, p = 2^31−1.
  * Identical hash family and parameters to
  * [[graft.functions.NearDup.minhashSignature]] — each shingle is hashed
  * once instead of k times.
  */
case class MinHashSig(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftFunctions.requireStringArray(prettyName, child)

  private val p = 2147483647L
  private lazy val params: Array[(Long, Long)] = (0 until k).map { i =>
    val r = new java.util.Random(seed + i)
    (math.abs(r.nextLong()) % (p - 1) + 1, math.abs(r.nextLong()) % p)
  }.toArray

  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x0 = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L) % p
        val x = if (x0 < 0) x0 + p else x0
        var j = 0
        while (j < k) {
          val (a, b) = params(j)
          val v = (a * x + b) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Word n-gram shingles straight from the text string, one imperative pass:
  * whitespace-split, drop empties, join each n-window with a single space,
  * optionally keeping only first occurrences (`array_distinct` semantics).
  *
  * The composable form ([[graft.functions.TextAnalysis.shingles]] over
  * `tokens`) chains four interpreted higher-order/array ops — `filter`,
  * `sequence`, `transform`, `slice` — where `slice` + `concat_ws` copy O(n)
  * per shingle; this is the signature-materialization hot spot of the
  * near-dup family. Same outputs for non-null text (null text yields null
  * here vs empty array there — both vanish identically downstream of the
  * `size > 0` / `explode` steps every caller applies).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }
  }

  def compute(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = input.toString.split(" ").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet keeps first-occurrence order, matching array_distinct
    val out: java.util.Collection[String] =
      if (distinct) new java.util.LinkedHashSet[String](math.max(16, toks.length))
      else new java.util.ArrayList[String](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) {
      arr(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Distinct word n-gram shingle FINGERPRINTS (array<long>) straight from the
  * text, one imperative pass: whitespace-split, drop empties, xxhash64 each
  * n-window (hashed over the space-joined shingle string, seed 42 — the same
  * value `xxhash64(shingle)` would produce), first-occurrence distinct on
  * the hash. The Broder-fingerprint form of [[WordShingles]]: the inverted
  * shingle index then shuffles and self-joins on 8-byte longs instead of
  * ~25-byte strings — less exchange volume, long-compare joins — while
  * Jaccard over fingerprints equals Jaccard over shingles up to 2⁻⁶⁴
  * collisions (none on the gate data; the oracle gate would surface one).
  */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }
  }

  def compute(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = input.toString.split(" ").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[java.lang.Long](math.max(16, toks.length))
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
        StringType, 42L))
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

/** Registration: both the `SparkSessionExtensions` route (cluster-wide via
  * `spark.sql.extensions=graft.plans.GraftExtensions`) and an idempotent
  * per-session helper for sessions built without extensions.
  */
object GraftFunctions {
  private[plans] def requireStringArray(fn: String, child: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires array<string>, got ${other.catalogString}")
    }
  }

  def simhash64(df: org.apache.spark.sql.DataFrame, toks: Column): Column = {
    register(df.sparkSession)
    call_function("graft_simhash64", toks)
  }

  /** Portable (md5-based, 60-bit) SimHash — see [[SimHashMd5]]. */
  def simhashMd5(df: org.apache.spark.sql.DataFrame, toks: Column): Column = {
    register(df.sparkSession)
    call_function("graft_simhash_md5", toks)
  }

  def minhashSig(df: org.apache.spark.sql.DataFrame, shingles: Column,
                 k: Int = 32, seed: Long = 42L): Column = {
    register(df.sparkSession, k, seed)
    call_function(s"graft_minhash_sig_${k}_$seed", shingles)
  }

  /** Distinct word n-gram shingles of a text column, single native pass —
    * equals `array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(t), n))`
    * for non-null text.
    */
  def wordShingles(df: org.apache.spark.sql.DataFrame, text: Column, n: Int,
                   distinct: Boolean = true): Column = {
    val name = s"graft_shingles_${n}_$distinct"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => WordShingles(exprs.head, n, distinct), "built-in")
    call_function(name, text)
  }

  /** Unicode-normalized text (form ∈ NFC/NFD/NFKC/NFKD), one native pass
    * with an allocation-free already-normalized fast path — the
    * canonicalization that belongs before any hash-keyed text op (see
    * [[UnicodeNormalize]]).
    */
  def unicodeNormalize(df: org.apache.spark.sql.DataFrame, text: Column,
                       form: String = "NFC"): Column = {
    val name = s"graft_unicode_normalize_$form"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => UnicodeNormalize(exprs.head, form), "built-in")
    call_function(name, text)
  }

  /** Distinct word n-gram shingle fingerprints (array<long>), single native
    * pass — Jaccard-equivalent to `wordShingles` up to 2⁻⁶⁴ collisions.
    */
  def wordShingleHashes(df: org.apache.spark.sql.DataFrame, text: Column, n: Int): Column = {
    val name = s"graft_shingle_hashes_$n"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => WordShingleHashes(exprs.head, n), "built-in")
    call_function(name, text)
  }

  /** Gopher-style n-gram repetition stats of a text column — a
    * struct<top_share: double, dup_frac: double>, single native pass.
    */
  def gramRepetitionStats(df: org.apache.spark.sql.DataFrame, text: Column, n: Int): Column = {
    val name = s"graft_gram_repetition_$n"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => GramRepetitionStats(exprs.head, n), "built-in")
    call_function(name, text)
  }

  /** Character-unigram stats of a text column — a struct<entropy: double,
    * n_chars: long, n_distinct: long>, single native pass.
    */
  def charEntropyStats(df: org.apache.spark.sql.DataFrame, text: Column): Column = {
    val name = "graft_char_entropy"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => CharEntropyStats(exprs.head), "built-in")
    call_function(name, text)
  }

  /** Int8 scalar-quantization stats of a vector column — a struct<scale:
    * double, code_sum: long, mse: double>, single native pass.
    */
  def int8QuantStats(df: org.apache.spark.sql.DataFrame, vec: Column): Column = {
    val name = "graft_int8_quant"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => Int8QuantStats(exprs.head), "built-in")
    call_function(name, vec)
  }

  /** Exact top-k (ord, id) pairs per group via a bounded-heap typed
    * aggregate — map-side partial heaps instead of a window sort; equals
    * the `row_number <= k` window form row-for-row.
    */
  def topkPairs(df: org.apache.spark.sql.DataFrame, ord: Column, id: Column,
                k: Int): Column = {
    val name = s"graft_topk_$k"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => TopKPairs(exprs.head, exprs(1), k), "built-in")
    call_function(name, ord, id)
  }

  /** Per-group heavy hitters via a Misra-Gries summary over a token-array
    * column — array<struct<token, cnt>> sorted (cnt desc, token asc).
    * Exact when `capacity` covers the group's distinct tokens; a bounded-
    * memory mergeable sketch otherwise.
    */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, toks: Column,
                   capacity: Int): Column = {
    val name = s"graft_heavy_hitters_$capacity"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => HeavyHitters(exprs.head, capacity), "built-in")
    call_function(name, toks)
  }

  /** Bloom-filter membership probe of a long key column — the native probe
    * side of a bloom semi-join reduction; name keyed by the filter identity
    * so several sketches coexist in one session.
    */
  def bloomMightContain(df: org.apache.spark.sql.DataFrame, key: Column,
                        filter: org.apache.spark.util.sketch.BloomFilter): Column = {
    val name = s"graft_bloom_${System.identityHashCode(filter).toHexString}"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => BloomMightContain(exprs.head, filter), "built-in")
    call_function(name, key)
  }

  def cosine(df: org.apache.spark.sql.DataFrame, a: Column, b: Column): Column = {
    register(df.sparkSession)
    call_function("graft_cosine", a, b)
  }

  /** `n` nearest centroids (squared euclidean, ties → lower cell) of an
    * array<double> column; function name keyed by the centroid matrix so
    * distinct quantizers coexist in one session.
    */
  def nearestCentroids(df: org.apache.spark.sql.DataFrame, vec: Column,
                       centroids: Seq[Seq[Double]], n: Int): Column = {
    val key = java.util.Arrays.deepHashCode(
      centroids.map(_.toArray.asInstanceOf[AnyRef]).toArray)
    val name = s"graft_ivf_cells_${centroids.length}_${n}_${key.toHexString}"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => NearestCentroids(exprs.head, centroids, n), "built-in")
    call_function(name, vec)
  }

  def hyperplaneBuckets(df: org.apache.spark.sql.DataFrame, vec: Column,
                        dim: Int, tables: Int, bits: Int, seed: Long): Column = {
    val name = s"graft_hp_buckets_${dim}_${tables}_${bits}_$seed"
    val spark = df.sparkSession
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => HyperplaneBuckets(exprs.head, dim, tables, bits, seed), "built-in")
    call_function(name, vec)
  }

  def l2normalize(df: org.apache.spark.sql.DataFrame, vec: Column): Column = {
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2_normalize", exprs => L2Normalize(exprs.head), "built-in")
    call_function("graft_l2_normalize", vec)
  }

  def interleaveBits(df: org.apache.spark.sql.DataFrame, buckets: Seq[Column],
                     bits: Int): Column = {
    val name = s"graft_interleave_${buckets.size}_$bits"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => InterleaveBits(exprs, bits), "built-in")
    call_function(name, buckets: _*)
  }

  def centroidResidual(df: org.apache.spark.sql.DataFrame, vec: Column, cell: Column,
                       centroids: Seq[Seq[Double]]): Column = {
    val key = java.util.Arrays.deepHashCode(
      centroids.map(_.toArray.asInstanceOf[AnyRef]).toArray)
    val name = s"graft_centroid_residual_${centroids.length}_${key.toHexString}"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => CentroidResidual(exprs.head, exprs(1), centroids), "built-in")
    call_function(name, vec, cell)
  }

  def centroidDots(df: org.apache.spark.sql.DataFrame, vec: Column,
                   centroids: Seq[Seq[Double]]): Column = {
    val key = java.util.Arrays.deepHashCode(
      centroids.map(_.toArray.asInstanceOf[AnyRef]).toArray)
    val name = s"graft_centroid_dots_${centroids.length}_${key.toHexString}"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => CentroidDots(exprs.head, centroids), "built-in")
    call_function(name, vec)
  }

  /** PQ primitives share one flattened [m][ksub][dsub] codebook array;
    * function names keyed by its content hash so distinct codebooks coexist.
    */
  def pqEncode(df: org.apache.spark.sql.DataFrame, vec: Column,
               codebooks: Array[Double], m: Int, ksub: Int, dsub: Int): Column = {
    val name = s"graft_pq_encode_${m}_${ksub}_" +
      java.util.Arrays.hashCode(codebooks).toHexString
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => PQEncode(exprs.head, codebooks, m, ksub, dsub), "built-in")
    call_function(name, vec)
  }

  def pqLut(df: org.apache.spark.sql.DataFrame, vec: Column,
            codebooks: Array[Double], m: Int, ksub: Int, dsub: Int): Column = {
    val name = s"graft_pq_lut_${m}_${ksub}_" +
      java.util.Arrays.hashCode(codebooks).toHexString
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => PQLut(exprs.head, codebooks, m, ksub, dsub), "built-in")
    call_function(name, vec)
  }

  def pqAdc(df: org.apache.spark.sql.DataFrame, codes: Column, lut: Column,
            ksub: Int): Column = {
    val name = s"graft_pq_adc_$ksub"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => PQADC(exprs.head, exprs(1), ksub), "built-in")
    call_function(name, codes, lut)
  }

  private val registeredKs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int, Long)]()

  def register(spark: SparkSession, k: Int = 32, seed: Long = 42L): Unit = {
    val key = (System.identityHashCode(spark).toLong, k, seed)
    if (registeredKs.add(key)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_simhash64", exprs => SimHash64(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_simhash_md5", exprs => SimHashMd5(exprs.head), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        s"graft_minhash_sig_${k}_$seed", exprs => MinHashSig(exprs.head, k, seed), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_cosine", exprs => CosineSim(exprs.head, exprs(1)), "built-in")
    }
  }
}

/** Session extension: installed by [[graft.GraftSession]], or on a cluster
  * with `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Injects the full native-function family for SQL users (a cluster user
  * configuring only the extensions conf gets the same surface the Scala
  * API uses). Shape parameters (shingle width, k, seed, dim/tables/bits)
  * arrive as TRAILING LITERAL arguments and are folded into the expression
  * at resolution time — e.g. `graft_shingles(text, 3)`,
  * `graft_minhash_sig(shingles, 32, 42)`,
  * `graft_hyperplane_buckets(vec, 64, 8, 10, 42)` — so one registered name
  * serves every parameterization (the Scala helpers in [[GraftFunctions]]
  * instead mint one temp function per parameter tuple).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import GraftExtensions.{litInt, litLong}

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => NanosCursorPushdown)
    // manifest-table reads (SQL catalog relations AND the DSv1 dv
    // fallback) become their declarative native plans at analysis time —
    // see graft.sources.ManifestV2Rewrite
    e.injectPostHocResolutionRule(s => new graft.sources.ManifestV2Rewrite(s))
    def inject(name: String, clazz: Class[_], b: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), b))
    inject("graft_simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head))
    inject("graft_simhash_md5", classOf[SimHashMd5], exprs => SimHashMd5(exprs.head))
    // legacy fixed-parameter name, kept for plans/SQL written against it
    inject("graft_minhash_sig_32_42", classOf[MinHashSig],
      exprs => MinHashSig(exprs.head, 32, 42L))
    inject("graft_minhash_sig", classOf[MinHashSig],
      exprs => MinHashSig(exprs.head, litInt(exprs, 1, "k"), litLong(exprs, 2, "seed")))
    inject("graft_shingles", classOf[WordShingles],
      exprs => WordShingles(exprs.head, litInt(exprs, 1, "n"), distinct = true))
    inject("graft_shingle_hashes", classOf[WordShingleHashes],
      exprs => WordShingleHashes(exprs.head, litInt(exprs, 1, "n")))
    inject("graft_gram_repetition", classOf[GramRepetitionStats],
      exprs => GramRepetitionStats(exprs.head, litInt(exprs, 1, "n")))
    inject("graft_char_entropy", classOf[CharEntropyStats],
      exprs => CharEntropyStats(exprs.head))
    inject("graft_nfc", classOf[UnicodeNormalize],
      exprs => UnicodeNormalize(exprs.head, "NFC"))
    inject("graft_int8_quant", classOf[Int8QuantStats],
      exprs => Int8QuantStats(exprs.head))
    inject("graft_topk", classOf[TopKPairs],
      exprs => TopKPairs(exprs(0), exprs(1), litInt(exprs, 2, "k")))
    inject("graft_heavy_hitters", classOf[HeavyHitters],
      exprs => HeavyHitters(exprs.head, litInt(exprs, 1, "capacity")))
    inject("graft_cosine", classOf[CosineSim], exprs => CosineSim(exprs(0), exprs(1)))
    inject("graft_l2_normalize", classOf[L2Normalize], exprs => L2Normalize(exprs.head))
    inject("graft_hyperplane_buckets", classOf[HyperplaneBuckets],
      exprs => HyperplaneBuckets(exprs.head, litInt(exprs, 1, "dim"),
        litInt(exprs, 2, "tables"), litInt(exprs, 3, "bits"),
        litLong(exprs, 4, "seed")))
    // Table-valued CDF access — Delta's `table_changes` analog:
    //   SELECT * FROM graft_changes('/lake/t', 3)        -- versions 3..current
    //   SELECT * FROM graft_changes('/lake/t', 3, 7)     -- versions 3..7
    // Both bounds INCLUSIVE (the SQL-facing convention; the store's
    // (from, to] feed shifts by one underneath). Output schema is the
    // table's own columns + _change_type/_commit_version/_commit_op,
    // resolved from the manifest at analysis time — so each table gets
    // its true shape with no registration step.
    e.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.sources.ManifestStore.getClass.getName,
        "graft_changes"),
      exprs => {
        val spark = org.apache.spark.sql.SparkSession.active
        val dir = GraftExtensions.litString(exprs, 0, "table directory")
        val from = litLong(exprs, 1, "fromVersion")
        require(from >= 1, s"fromVersion must be >= 1 (got $from)")
        val snap = graft.sources.ManifestStore.currentSnapshot(spark, dir)
          .getOrElse(throw new IllegalArgumentException(
            s"no manifest table at $dir"))
        val to =
          if (exprs.length > 2) litLong(exprs, 2, "toVersion")
          else snap.version
        val schema = snap.schema.getOrElse(throw new IllegalStateException(
          s"manifest table $dir records no schema"))
        graft.sources.ManifestStore
          .changes(spark, dir, from - 1, to, schema)
          .queryExecution.analyzed
      }))
  }
}

object GraftExtensions {
  /** Extract a fold-time integer shape parameter from a literal argument.
    * A long literal outside Int range is an ERROR, not a truncation — a
    * silently wrapped shingle width or table count would build a different
    * operator than the SQL asked for.
    */
  private def litInt(exprs: Seq[Expression], i: Int, what: String): Int = {
    val v = litLong(exprs, i, what)
    require(v >= Int.MinValue && v <= Int.MaxValue,
      s"argument #$i ($what) out of int range: $v")
    v.toInt
  }

  /** Long-valued fold-time parameter (seeds): SQL integer literals above
    * 2^31 must reach the expression intact, or SQL-built signatures would
    * silently disagree with Scala-built ones for the same seed.
    */
  private def litLong(exprs: Seq[Expression], i: Int, what: String): Long = {
    require(exprs.length > i, s"missing literal argument #$i ($what)")
    exprs(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"argument #$i ($what) must be an integer literal, got $other")
    }
  }

  /** String literal argument (table paths for the TVFs). */
  private[plans] def litString(exprs: Seq[Expression], i: Int, what: String): String = {
    require(exprs.length > i, s"missing literal argument #$i ($what)")
    exprs(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
        v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
      case other => throw new IllegalArgumentException(
        s"argument #$i ($what) must be a string literal, got $other")
    }
  }
}
