package graft.functions

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Content-defined chunking (CDC) for binary payloads — the storage-side
  * dedup primitive (Muthitacharoen et al., "A Low-Bandwidth Network File
  * System", SOSP'01; the min/max-bounded refinement is FastCDC, Xia et
  * al., USENIX ATC'16): chunk boundaries are placed where a rolling hash
  * of the last `w` bytes hits a divisor condition, so the SAME content
  * produces the SAME chunks regardless of its byte offset — an insertion
  * near the start of a file shifts every fixed-size block but only ONE
  * content-defined chunk. Dedup on chunk fingerprints then finds shared
  * sub-regions across payloads (multimodal corpora are full of them:
  * re-encoded headers, shared stills, repeated intros).
  *
  * Portability contract (same discipline as the winnow/minhash family):
  * the rolling hash is Karp-Rabin over a w-byte window mod the Mersenne
  * prime 2^31−1 — pure integer arithmetic the DuckDB oracle replays
  * term-by-term with precomputed `B^p mod M` literals; the chunk
  * fingerprint is md5 of the chunk's UPPERCASE hex encoding (what
  * DuckDB's `hex(blob)` emits), so fingerprints compare equal across
  * engines without blob-function parity.
  *
  * Scale shape: chunking + fingerprinting is ONE compiled map-side pass
  * per payload ([[CdcChunksExpr]]); only (media_id, offset, length, fp)
  * rows ever shuffle — payload bytes stay in their scan partitions.
  * First-occurrence attribution is the two-phase
  * `groupBy(fp).agg(min(struct))` + join-back (the [[Dedup.passageDedup]]
  * shape: partial aggs absorb mega-duplicated chunks, no window over the
  * fingerprint), and the per-source rollup is a tiny final aggregate.
  */
object Cdc {

  /** Explode each `payload` into its content-defined chunks (16-byte
    * window, 6 mask bits: ~64-byte chunks on average).
    * Output: the input columns minus the payload, plus
    * (chunk_off, chunk_len, chunk_fp). Payload bytes never leave the
    * map side — only the chunk coordinate rows continue downstream.
    */
  def chunks(media: DataFrame): DataFrame = {
    val keep = media.columns.filterNot(_ == "payload").map(col)
    media
      .withColumn("__cdc", explode(GraftExpressionBridge.column(
        CdcChunksExpr(GraftExpressionBridge.expression(col("payload")),
          w = 16, maskBits = 6))))
      .select(keep :+ col("__cdc.chunk_off") :+ col("__cdc.chunk_len") :+
        col("__cdc.chunk_fp"): _*)
  }

  /** Per-stratum storage-dedup rollup: total vs duplicate chunks and
    * bytes, where a chunk is a duplicate unless it is the globally first
    * occurrence of its fingerprint (min (media_id, chunk_off) order —
    * deterministic under any partitioning).
    */
  def dedupStats(media: DataFrame, strata: Seq[String]): DataFrame = {
    // the chunking pass (rolling hash + per-chunk md5 over every payload
    // byte) feeds BOTH the first-occurrence aggregate and the join-back;
    // cache it so the compiled scan runs once (the ngram-pairs explode
    // argument — without this the plan re-derives the explode per consumer)
    val ch = chunks(media).cache()
    val first = ch.groupBy(col("chunk_fp"))
      .agg(min(struct(col("media_id"), col("chunk_off"))).as("__fo"))
    val marked = ch.join(first, "chunk_fp")
      .withColumn("__is_first",
        col("media_id") === col("__fo").getField("media_id") &&
          col("chunk_off") === col("__fo").getField("chunk_off"))
    marked.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__is_first"), 0L).otherwise(1L)).as("n_dup_chunks"),
        sum(col("chunk_len")).as("bytes_total"),
        sum(when(col("__is_first"), 0L).otherwise(col("chunk_len")))
          .as("bytes_dup"))
  }
}

/** One compiled pass over a binary payload: Karp-Rabin rolling hash over
  * a `w`-byte window mod 2^31−1; a chunk ends after byte position i
  * (0-based, i ≥ w−1) when the window hash's low `maskBits` bits are all
  * zero (average chunk ≈ 2^maskBits bytes), and always at end-of-payload.
  * Returns array<struct<chunk_off, chunk_len, chunk_fp>> covering the
  * payload exactly; empty payload ⇒ empty array.
  */
case class CdcChunksExpr(child: Expression, w: Int, maskBits: Int)
    extends UnaryExpression {

  override def dataType: DataType = CdcChunksExpr.OutType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires binary, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    CdcChunksExpr.compute(input.asInstanceOf[Array[Byte]], w, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CdcChunksExpr.compute($c, $w, $maskBits);")

  override def prettyName: String = "cdc_chunks"

  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpr =
    copy(child = newChild)
}

object CdcChunksExpr {
  /** Karp-Rabin base/modulus (the Mersenne prime 2^31−1) — small enough
    * that every intermediate product stays far inside int64.
    */
  val B = 257L
  val M = 2147483647L

  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("chunk_off", LongType, nullable = false),
    StructField("chunk_len", LongType, nullable = false),
    StructField("chunk_fp", StringType, nullable = false))), containsNull = false)

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** md5 (lowercase hex) of the chunk's uppercase-hex encoding — equal to
    * DuckDB's `md5(substr(hex(payload), 2*off+1, 2*len))`.
    */
  private def fingerprint(bytes: Array[Byte], off: Int, len: Int): String = {
    val hex = new Array[Byte](2 * len)
    var i = 0
    while (i < len) {
      val b = bytes(off + i) & 0xFF
      hex(2 * i) = HexDigits(b >>> 4).toByte
      hex(2 * i + 1) = HexDigits(b & 0xF).toByte
      i += 1
    }
    val d = java.security.MessageDigest.getInstance("MD5").digest(hex)
    val out = new StringBuilder(32)
    d.foreach(x => out.append(HexDigits((x >> 4) & 0xF).toLower)
      .append(HexDigits(x & 0xF).toLower))
    out.toString
  }

  /** Static entry shared by eval and codegen. */
  def compute(bytes: Array[Byte], w: Int, maskBits: Int): ArrayData = {
    val n = bytes.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val mask = (1L << maskBits) - 1
    // B^w mod M for the outgoing byte
    var bw = 1L
    var p = 0
    while (p < w) { bw = bw * B % M; p += 1 }
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int] // exclusive
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * B + (bytes(i) & 0xFF)) % M
      if (i >= w) {
        h = ((h - (bytes(i - w) & 0xFF) * bw) % M + M) % M
      }
      if (i >= w - 1 && (h & mask) == 0L) ends += i + 1
      i += 1
    }
    if (ends.isEmpty || ends.last != n) ends += n
    val rows = new Array[Any](ends.length)
    var start = 0
    var c = 0
    while (c < ends.length) {
      val end = ends(c)
      rows(c) = InternalRow(start.toLong, (end - start).toLong,
        org.apache.spark.unsafe.types.UTF8String.fromString(
          fingerprint(bytes, start, end - start)))
      start = end
      c += 1
    }
    new GenericArrayData(rows)
  }
}
