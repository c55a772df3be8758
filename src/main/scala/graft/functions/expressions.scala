package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

import graft.imagecodec.ImageCodec
import graft.seen.Bloom

/** Native Catalyst expressions for the per-document extraction stage
  * (BASELINE.json input_hint: "re-expressed as Catalyst expressions and
  * typed mapPartitions ... never RDDs"). All codegen via static calls into
  * [[ImageCodec]] so they stay inside WholeStageCodegen spans — no UDF
  * serialization, no closure capture.
  *
  * Reference analog: the extraction stage exists in the reference only as
  * a type signature (`PdfExtractionFn`, csinsights/helpers/types.py:73-89);
  * the image-payload semantics come from the north rule.
  */

/** phash(bytes): 64-bit average-hash of the decoded image. */
case class PhashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    ImageCodec.phashOfEncoded(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.imagecodec.ImageCodec.phashOfEncoded($c)")
  override protected def withNewChildInternal(newChild: Expression): PhashExpr = copy(child = newChild)
  override def prettyName: String = "phash"
}

/** phash_d4(bytes): dihedral-canonical 64-bit hash — the unsigned-min
  * average-hash over all 8 rotations/mirrors, so rotated/flipped re-posts
  * collapse to one value (ImageCodec.dihedralMinHash). */
case class PhashD4Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    ImageCodec.phashD4OfEncoded(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.imagecodec.ImageCodec.phashD4OfEncoded($c)")
  override protected def withNewChildInternal(newChild: Expression): PhashD4Expr = copy(child = newChild)
  override def prettyName: String = "phash_d4"
}

/** decode_width(bytes) / decode_height(bytes): header-only dimension read. */
case class DecodeWidthExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    ImageCodec.decodeDims(input.asInstanceOf[Array[Byte]])._1
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.imagecodec.ImageCodec.decodeWidthOf($c)")
  override protected def withNewChildInternal(newChild: Expression): DecodeWidthExpr = copy(child = newChild)
  override def prettyName: String = "decode_width"
}

case class DecodeHeightExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    ImageCodec.decodeDims(input.asInstanceOf[Array[Byte]])._2
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.imagecodec.ImageCodec.decodeHeightOf($c)")
  override protected def withNewChildInternal(newChild: Expression): DecodeHeightExpr = copy(child = newChild)
  override def prettyName: String = "decode_height"
}

/** sniff_format(bytes): magic-byte format detection. */
case class SniffFormatExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(ImageCodec.sniffFormat(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.imagecodec.ImageCodec.sniffFormat($c))")
  override protected def withNewChildInternal(newChild: Expression): SniffFormatExpr = copy(child = newChild)
  override def prettyName: String = "sniff_format"
}

/** psnr(a, b): PSNR in dB between two encoded images (test invariant:
  * ≥40dB for lossy round-trips; +Inf for bit-exact). */
case class PsnrExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, BINARY)")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GraftExprHelpers.psnrOfEncoded(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftExprHelpers.psnrOfEncoded($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PsnrExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "psnr"
}

/** frame_count(video): frame count from a GVID container header — an O(1)
  * header read, no decode (VideoCodec layout doc). */
case class FrameCountExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    graft.imagecodec.VideoCodec.frameCountOf(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.imagecodec.VideoCodec.frameCountOf($c)")
  override protected def withNewChildInternal(newChild: Expression): FrameCountExpr = copy(child = newChild)
  override def prettyName: String = "frame_count"
}

/** frame_at(video, i): encoded frame `i` of a GVID container — a seek-index
  * lookup + slice (the container carries absolute offsets like any real
  * media index), never a scan of preceding frames. The result is an
  * ordinary encoded image, so every per-frame kernel (decode_width, phash,
  * resize_nn, …) composes directly on top. */
case class FrameAtExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, INT)")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(video: Any, i: Any): Any =
    graft.imagecodec.VideoCodec.frameAt(video.asInstanceOf[Array[Byte]], i.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, i) => s"graft.imagecodec.VideoCodec.frameAt($v, $i)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FrameAtExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "frame_at"
}

/** audio_stats(audio): `[sample_rate, n_samples, duration_ms, peak_abs,
  * sum_sq]` from a GAUD PCM payload — one integer-exact fold over the
  * real sample stream (AudioCodec layout doc), so byte-order or slicing
  * bugs change the values and fail the closed-form oracle. */
case class AudioStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      graft.imagecodec.AudioCodec.statsOf(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(graft.imagecodec.AudioCodec.statsOf($c))")
  override protected def withNewChildInternal(newChild: Expression): AudioStatsExpr = copy(child = newChild)
  override def prettyName: String = "audio_stats"
}

/** bloom_might_contain(blob, key): membership probe against a serialized
  * Bloom shard. The partitioned gate path caches deserialized shards per
  * task (BloomSeen.gate); this expression is the small-shard/broadcast
  * form. */
case class BloomMightContainExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, BIGINT)")
  override def dataType: DataType = BooleanType
  override def nullSafeEval(blob: Any, key: Any): Any =
    GraftExprHelpers.bloomMightContainCached(blob.asInstanceOf[Array[Byte]], key.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, k) => s"graft.functions.GraftExprHelpers.bloomMightContainCached($b, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BloomMightContainExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bloom_might_contain"
}

/** bloom_probe(bucket, key) against a BROADCAST shard map — the fast gate:
  * no join, no per-row blob materialization (joining the serialized shard
  * in as a column re-copies the 100KB+ byte array per row out of the
  * UnsafeRow — measured 6.7s of pure memcpy on a 2M-row gate). The
  * broadcast is referenced from generated code via addReferenceObj; each
  * executor deserializes each shard exactly once (lazy in BloomShardMap).
  */
case class BloomProbeExpr(left: Expression, right: Expression,
    shards: org.apache.spark.broadcast.Broadcast[BloomShardMap])
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (INT bucket, BIGINT key)")
  override def dataType: DataType = BooleanType
  override def nullSafeEval(bucket: Any, key: Any): Any =
    shards.value.mightContain(bucket.asInstanceOf[Int], key.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomShards", shards,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (b, k) =>
      s"((graft.functions.BloomShardMap) $ref.value()).mightContain($b, $k)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BloomProbeExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bloom_probe"
}

/** Broadcast payload: serialized shards, deserialized lazily once per
  * executor (the broadcast value is shared across that executor's tasks). */
final class BloomShardMap(serialized: Map[Int, Array[Byte]]) extends Serializable {
  @transient private lazy val blooms: Map[Int, Bloom] =
    serialized.map { case (b, blob) => b -> Bloom.deserialize(blob) }
  def mightContain(bucket: Int, key: Long): Boolean =
    blooms.get(bucket) match {
      case Some(bloom) => bloom.mightContain(key)
      case None => false // no shard for this bucket → definitely not seen
    }
}

/** cuckoo_probe(bucket, key) against a BROADCAST cuckoo shard map — same
  * no-join, reference-object codegen shape as [[BloomProbeExpr]]. */
case class CuckooProbeExpr(left: Expression, right: Expression,
    shards: org.apache.spark.broadcast.Broadcast[CuckooShardMap])
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (INT bucket, BIGINT key)")
  override def dataType: DataType = BooleanType
  override def nullSafeEval(bucket: Any, key: Any): Any =
    shards.value.mightContain(bucket.asInstanceOf[Int], key.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cuckooShards", shards,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (b, k) =>
      s"((graft.functions.CuckooShardMap) $ref.value()).mightContain($b, $k)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CuckooProbeExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cuckoo_probe"
}

/** Broadcast payload for cuckoo shards (lazy per-executor deserialize). */
final class CuckooShardMap(serialized: Map[Int, Array[Byte]]) extends Serializable {
  @transient private lazy val filters: Map[Int, graft.seen.Cuckoo] =
    serialized.map { case (b, blob) => b -> graft.seen.Cuckoo.deserialize(blob) }
  def mightContain(bucket: Int, key: Long): Boolean =
    filters.get(bucket) match {
      case Some(f) => f.mightContain(key)
      case None => false
    }
}

/** Static helpers invoked from generated code — keep JVM-static and
  * allocation-light. */
object GraftExprHelpers {
  def psnrOfEncoded(a: Array[Byte], b: Array[Byte]): Double = {
    val (pa, _, _) = ImageCodec.decode(a)
    val (pb, _, _) = ImageCodec.decode(b)
    ImageCodec.psnr(pa, pb)
  }

  // Per-task identity cache: gate plans reuse ONE blob across many rows,
  // so deserialize once per (task, blob) instead of per row.
  private val cache = new ThreadLocal[(Array[Byte], Bloom)]()
  def bloomMightContainCached(blob: Array[Byte], key: Long): Boolean = {
    val c = cache.get()
    val bloom = if (c != null && (c._1 eq blob)) c._2 else {
      val b = Bloom.deserialize(blob)
      cache.set((blob, b))
      b
    }
    bloom.mightContain(key)
  }

  private val ccache = new ThreadLocal[(Array[Byte], graft.seen.Cuckoo)]()
  def cuckooMightContainCached(blob: Array[Byte], key: Long): Boolean = {
    val c = ccache.get()
    val f = if (c != null && (c._1 eq blob)) c._2 else {
      val f0 = graft.seen.Cuckoo.deserialize(blob)
      ccache.set((blob, f0))
      f0
    }
    f.mightContain(key)
  }

  // NOTE (history, rounds 2-4): the partitioned gates once joined the
  // shard blob onto every candidate row and probed via (epoch, bucket)-
  // keyed ThreadLocal deserialization caches here. The caches fixed the
  // re-deserialization but not the underlying per-row `getBinary` COPY of
  // the joined-in ~0.5 MB blob, which dominated end to end; the gates now
  // COGROUP candidates with their shard instead (CuckooSeen/BloomSeen
  // `probedStream`), so blobs never enter the candidate stream and the
  // whole epoch/cache apparatus became unnecessary and was removed.
}

/** cuckoo_might_contain(blob, key): SQL-callable cuckoo shard probe with
  * per-task identity-cached deserialization (same contract as the Bloom
  * twin — the cache hits when one literal/broadcast blob spans many rows). */
case class CuckooMightContainExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, BIGINT)")
  override def dataType: DataType = BooleanType
  override def nullSafeEval(blob: Any, key: Any): Any =
    GraftExprHelpers.cuckooMightContainCached(blob.asInstanceOf[Array[Byte]], key.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, k) => s"graft.functions.GraftExprHelpers.cuckooMightContainCached($b, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CuckooMightContainExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cuckoo_might_contain"
}

/** minhash_buckets(shingles, numBands, rowsPerBand): per-band LSH bucket
  * array in one kernel pass — replaces 16 interpreted `transform`/
  * `array_min` lanes plus per-band `concat_ws`+`xxhash64` (higher-order
  * functions are CodegenFallback; see [[TextSig]]). */
case class MinhashBucketsExpr(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextSig.minhashBuckets(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      numBands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextSig.minhashBuckets($c, $numBands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): MinhashBucketsExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_buckets"
}

/** shingles(toks, k): k-gram strings in one kernel pass (see TextSig). */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextSig.shingles(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "shingles"
}

/** simhash_from_hashes(hashes, bits): packed ±1-majority signature in one
  * kernel pass — replaces `bits` interpreted `aggregate` folds. Bit-exact
  * vs the Column fold (order-independent integer counts). */
/** md5_hash60(bytes): the repo-standard cross-engine 60-bit md5-prefix
  * hash as one digest-to-long kernel — value-identical to
  * `conv(substring(md5(x), 1, 15), 16, 10)` without the hex/conv string
  * round-trips (see [[TextSig.md5Hash60]]). */
case class Md5Hash60Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextSig.md5Hash60(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.md5Hash60($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Hash60Expr =
    copy(child = newChild)
  override def prettyName: String = "md5_hash60"
}

/** md5_token_hashes(tokens): [[Md5Hash60Expr]] over every element of a
  * token array in ONE kernel call — the simhash lane derivation without
  * the per-element interpreted `transform` dispatch. */
case class Md5TokenHashesExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullSafeEval(input: Any): Any =
    TextSig.md5TokenHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.md5TokenHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5TokenHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "md5_token_hashes"
}

case class SimhashFromHashesExpr(child: Expression, bits: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<BIGINT>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextSig.simhashFromHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.simhashFromHashes($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimhashFromHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "simhash_from_hashes"
}

/** repetition_stats(text): per-document repetition metrics
  * `[n_words, n_distinct_words, max_word_count, n_bigrams,
  * n_distinct_bigrams, max_bigram_count]` in one kernel pass — the
  * Gopher-style quality signals a training-data pipeline derives
  * duplicate-word / top-bigram-coverage ratios from. Integer outputs with
  * a DuckDB-parity tokenization contract (see [[TextSig.repetitionStats]]);
  * row-local, so the operator is shuffle-free at any scale. */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextSig.repetitionStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

/** hyperplane_sig(vec, planes): packed random-hyperplane sign signature —
  * kernel twin of the zip_with/aggregate Column form (bit-identical
  * components and fold order; plane matrix memoized per executor instead
  * of recomputed per row). */
case class HyperplaneSigExpr(child: Expression, planes: Int) extends UnaryExpression {
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT> or ARRAY<BIGINT>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextSig.hyperplaneSig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.hyperplaneSig($c, $planes, $isFloat)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_sig"
}

/** nearest_cluster(vec): argmin squared-L2 over fixed centroids (IVF
  * coarse quantizer) — kernel twin of array_min over (dist, cid) structs
  * with identical doubles and tie-break; centroids ride as a reference
  * object instead of being inlined per row. */
case class NearestClusterExpr(child: Expression,
    cents: Array[Array[Double]], cids: Array[Int]) extends UnaryExpression {
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT> or ARRAY<BIGINT>, got $t")
  }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    TextSig.nearestCluster(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cents, cids, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    val cidsRef = ctx.addReferenceObj("ivfCids", cids, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextSig.nearestCluster($c, $centsRef, $cidsRef, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestClusterExpr =
    copy(child = newChild)
  override def prettyName: String = "nearest_cluster"
}

/** vec_dot(a, b): double dot product with the EXACT left-fold widening
  * semantics of `aggregate(zip_with(a,b,(x,y)=>x.castD*y.castD),0.0,_+_)`
  * — same IEEE op sequence, so quantized cosines stay oracle-identical —
  * in one codegen'd kernel call instead of interpreted HOF evaluation. */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  private def elem(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) if a == b &&
      Seq(FloatType, LongType, DoubleType, IntegerType).contains(a) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two arrays of the same float/long/double/int element type, got ($a, $b)")
  }
  override def dataType: DataType = DoubleType
  private def kernel: String = elem(left) match {
    case FloatType => "dotFloat"
    case LongType => "dotLong"
    case DoubleType => "dotDouble"
    case IntegerType => "dotInt"
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    elem(left) match {
      case FloatType => TextSig.dotFloat(aa, bb)
      case LongType => TextSig.dotLong(aa, bb)
      case DoubleType => TextSig.dotDouble(aa, bb)
      case IntegerType => TextSig.dotInt(aa, bb)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextSig.$kernel($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** Column-level API over the custom expressions. */
object graftfns {
  def phash(c: Column): Column = Bridge.column(PhashExpr(Bridge.expression(c)))
  def phashD4(c: Column): Column = Bridge.column(PhashD4Expr(Bridge.expression(c)))
  def decodeWidth(c: Column): Column = Bridge.column(DecodeWidthExpr(Bridge.expression(c)))
  def decodeHeight(c: Column): Column = Bridge.column(DecodeHeightExpr(Bridge.expression(c)))
  def sniffFormat(c: Column): Column = Bridge.column(SniffFormatExpr(Bridge.expression(c)))
  def psnr(a: Column, b: Column): Column = Bridge.column(PsnrExpr(Bridge.expression(a), Bridge.expression(b)))
  def bloomMightContain(blob: Column, key: Column): Column =
    Bridge.column(BloomMightContainExpr(Bridge.expression(blob), Bridge.expression(key)))
  def cuckooMightContain(blob: Column, key: Column): Column =
    Bridge.column(CuckooMightContainExpr(Bridge.expression(blob), Bridge.expression(key)))
  def resizeNN(bytes: Column, w: Column, h: Column): Column =
    Bridge.column(ResizeExpr(Bridge.expression(bytes), Bridge.expression(w), Bridge.expression(h)))
  def frameCount(c: Column): Column = Bridge.column(FrameCountExpr(Bridge.expression(c)))
  def frameAt(video: Column, i: Column): Column =
    Bridge.column(FrameAtExpr(Bridge.expression(video), Bridge.expression(i)))
  def audioStats(c: Column): Column = Bridge.column(AudioStatsExpr(Bridge.expression(c)))
  def padImage(bytes: Column, packedBorders: Column): Column =
    Bridge.column(PadImageExpr(Bridge.expression(bytes), Bridge.expression(packedBorders)))
  def letterbox(bytes: Column): Column =
    Bridge.column(LetterboxExpr(Bridge.expression(bytes)))
  def cropImage(bytes: Column, packedBorders: Column): Column =
    Bridge.column(CropImageExpr(Bridge.expression(bytes), Bridge.expression(packedBorders)))
  def shingles(toks: Column, k: Int): Column =
    Bridge.column(ShinglesExpr(Bridge.expression(toks), k))
  def minhashBuckets(shingles: Column, numBands: Int, rowsPerBand: Int): Column =
    Bridge.column(MinhashBucketsExpr(Bridge.expression(shingles), numBands, rowsPerBand))
  def repetitionStats(text: Column): Column =
    Bridge.column(RepetitionStatsExpr(Bridge.expression(text)))
  def simhashFromHashes(hashes: Column, bits: Int): Column =
    Bridge.column(SimhashFromHashesExpr(Bridge.expression(hashes), bits))
  def md5Hash60(c: Column): Column =
    Bridge.column(Md5Hash60Expr(Bridge.expression(c)))
  def md5TokenHashes(tokens: Column): Column =
    Bridge.column(Md5TokenHashesExpr(Bridge.expression(tokens)))
  def vecDot(a: Column, b: Column): Column =
    Bridge.column(DotExpr(Bridge.expression(a), Bridge.expression(b)))
  def hyperplaneSig(vec: Column, planes: Int): Column =
    Bridge.column(HyperplaneSigExpr(Bridge.expression(vec), planes))
  def nearestCluster(vec: Column, cents: Array[Array[Double]], cids: Array[Int]): Column =
    Bridge.column(NearestClusterExpr(Bridge.expression(vec), cents, cids))
}

/** canonical_url(url): compact codegen'd canonicalization — see
  * graft.canon.UrlCanonImpl for why this is a kernel expression rather
  * than Column arithmetic (64KB codegen blow-up). */
case class CanonicalUrlExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.canon.UrlCanonImpl.canonicalize(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
      s"graft.canon.UrlCanonImpl.canonicalize($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): CanonicalUrlExpr =
    copy(child = newChild)
  override def prettyName: String = "canonical_url"
}

/** url_host(url): lowercase host component (kernel twin of CanonicalUrlExpr). */
case class HostOfExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.canon.UrlCanonImpl.host(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
      s"graft.canon.UrlCanonImpl.host($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): HostOfExpr =
    copy(child = newChild)
  override def prettyName: String = "host_of" // must match the SQL-registered name
}

/** resize_nn(bytes, w, h): deterministic nearest-neighbor resize of an
  * encoded payload, re-encoded in its own format — the multimodal resize
  * transform as a codegen'd ternary expression. */
case class ResizeExpr(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == IntegerType && third.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, INT, INT)")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(b: Any, w: Any, h: Any): Any =
    ImageCodec.resizeEncoded(b.asInstanceOf[Array[Byte]], w.asInstanceOf[Int], h.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, w, h) => s"graft.imagecodec.ImageCodec.resizeEncoded($b, $w, $h)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): ResizeExpr =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "resize_nn"
}

/** pad_image(bytes, packed): uniform black letterbox border around an
  * encoded payload (borders packed t<<24|b<<16|l<<8|r), re-encoded in its
  * own format — the synthetic twin of an aspect-letterboxing re-encoder. */
case class PadImageExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, INT)")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(b: Any, p: Any): Any =
    ImageCodec.padEncoded(b.asInstanceOf[Array[Byte]], p.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, p) => s"graft.imagecodec.ImageCodec.padEncoded($b, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PadImageExpr =
    copy(left = l, right = r)
  override def prettyName: String = "pad_image"
}

/** crop_image(bytes, packed): strip a (t<<24|b<<16|l<<8|r)-packed border off
  * an encoded payload, re-encoded in its own format — the exact inverse of
  * [[PadImageExpr]] (lossless codecs round-trip pixels; xjpg's quantizer is
  * a projection), composed with [[LetterboxExpr]] for detect-then-crop. */
case class CropImageExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (BINARY, INT)")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(b: Any, p: Any): Any =
    ImageCodec.cropEncoded(b.asInstanceOf[Array[Byte]], p.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, p) => s"graft.imagecodec.ImageCodec.cropEncoded($b, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CropImageExpr =
    copy(left = l, right = r)
  override def prettyName: String = "crop_image"
}

/** letterbox(bytes): detected uniform border widths of the decoded image,
  * packed t<<24|b<<16|l<<8|r (ImageCodec.letterboxOf) — the crop-detect
  * step a thumbnail/training pipeline runs before resizing. */
case class LetterboxExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects BINARY, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    ImageCodec.letterboxOf(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.imagecodec.ImageCodec.letterboxOf($c)")
  override protected def withNewChildInternal(newChild: Expression): LetterboxExpr =
    copy(child = newChild)
  override def prettyName: String = "letterbox"
}

/** robots_verdict(canonical_url, rules): the longest-prefix robots
  * precedence as ONE codegen'd kernel call. The HOF form —
  * `array_max(filter(rules, r => path.startsWith(r.prefix)))` over a
  * regexp-extracted path — is CodegenFallback (interpreted, boxed lambda
  * dispatch per rule per row; measured ~1.6s of the 1.8s c25 query at
  * sf0.1). The kernel scans the url's own bytes for the path start (no
  * regexp) and folds the tiny per-host rules array in a tight loop with
  * the identical (prefix_len, prefix, allowed) lexicographic-max tie
  * order (binary string compare == DuckDB's ASCII compare).
  *
  * Tri-state result: NULL = no rule matches (url passes), else the
  * winning rule's `allowed`. `rules` is the per-host
  * array<struct<prefix:string, allowed:boolean>> broadcast dim; NULL
  * rules (host without any) short-circuits to NULL via null-safe eval.
  */
case class RobotsVerdictExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = right.dataType match {
    case ArrayType(StructType(Array(p, a)), _)
        if left.dataType == StringType && p.dataType == StringType && a.dataType == BooleanType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (STRING, ARRAY<STRUCT<prefix:STRING, allowed:BOOLEAN>>)")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def nullSafeEval(url: Any, rules: Any): Any = {
    val v = RobotsKernel.verdict(url.asInstanceOf[UTF8String],
      rules.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (v < 0) null else v == 1
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, r) => s"""
      byte ${ev.value}$$v = graft.functions.RobotsKernel.verdict($u, $r);
      if (${ev.value}$$v < 0) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}$$v == (byte) 1; }
    """)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RobotsVerdictExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "robots_verdict"
}

/** range_bucket(key): the bucket of a row's sort-key struct under FIXED
  * range bounds — a [[org.apache.spark.RangePartitioner]] sampled once on
  * that same key (see `Scheduler.orderBuckets`). A pure function of the
  * row, so every plan branch that evaluates it puts a row in the same
  * bucket, whichever exchange or cache feeds that branch. */
case class RangeBucketExpr(child: Expression,
    bounds: org.apache.spark.RangePartitioner[InternalRow, Null])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(key: Any): Any = bounds.getPartition(key)
  override protected def withNewChildInternal(newChild: Expression): RangeBucketExpr =
    copy(child = newChild)
  override def prettyName: String = "range_bucket"
}
