package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graft.{Kernel, KernelCall}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** SQL-function surface of the engine, registered by [[GraftExtensions]]
  * (`spark.sql.extensions` config or `withExtensions` at session build
  * time):
  *
  *  - the reference's string helpers as native Catalyst expression trees
  *    composed from built-in expressions (codegen'd end to end, no UDF
  *    boxing);
  *  - the catalog of native row kernels, each listed once below as a
  *    [[Kernel]]: SQL calls it by name, the DataFrame operators call the
  *    same entry (`GraftFunctions.wordShingles(text, 3)`);
  *  - the expressions with their own generated code and the sketch
  *    aggregates.
  *
  * Expression semantics mirror graft.functions.StrFunctions (reference:
  * sdk/lib/str.php:11-31 — "" when the separator is absent, and for
  * str_before also when it sits at position 0).
  */
object GraftFunctions {

  private val emptyStr = Literal(UTF8String.fromString(""), StringType)

  /** str_before(str, sep) as a Catalyst expression tree. */
  def strBeforeExpr(str: Expression, sep: Expression): Expression =
    If(LessThanOrEqual(StringInstr(str, sep), Literal(1)),
      emptyStr,
      SubstringIndex(str, sep, Literal(1)))

  /** str_after(str, sep) as a Catalyst expression tree. */
  def strAfterExpr(str: Expression, sep: Expression): Expression =
    If(EqualTo(StringInstr(str, sep), Literal(0)),
      emptyStr,
      Substring(str,
        Add(StringInstr(str, sep), Length(sep)),
        Length(str)))

  private def atLeastOne(what: String): Seq[Int] => Unit =
    p => require(p.head >= 1, s"$what must be >= 1, got ${p.head}")

  // ---- text --------------------------------------------------------------
  val rollingHash = Kernel("rolling_hash", RollingHash.getClass, "hash",
    LongType, Seq(StringType))
  val nfcNormalize = Kernel("nfc_normalize", UnicodeNorm.getClass, "nfc",
    StringType, Seq(StringType))
  val accentStrip = Kernel("accent_strip", UnicodeNorm.getClass,
    "stripAccents", StringType, Seq(StringType))
  // word_shingles(text, k): distinct lowercase word k-shingles
  val wordShingles = Kernel("word_shingles", WordShingles.getClass,
    "compute", ArrayType(StringType, containsNull = false), Seq(StringType),
    nParams = 1, checkParams = atLeastOne("shingle size"))
  // word_chunks(text, k): non-overlapping k-token chunks
  val wordChunks = Kernel("word_chunks", WordChunks.getClass, "compute",
    ArrayType(StringType, containsNull = false), Seq(StringType),
    nParams = 1, checkParams = atLeastOne("chunk size"))
  // word_chunk_structs(text, k, overlap): overlapping chunks with positions
  val wordChunkStructs = Kernel("word_chunk_structs",
    WordChunkStructs.getClass, "compute", WordChunkStructs.Schema,
    Seq(StringType), nParams = 2, checkParams = {
      case Seq(k, overlap) => require(k > overlap && overlap >= 0,
        s"need chunkSize > overlap >= 0, got $k/$overlap")
    })
  // minhash_sig(shingles, m): m-component signature of a shingle array
  val minhashSig = Kernel("minhash_sig", MinHashSig.getClass, "compute",
    ArrayType(LongType, containsNull = true), Seq(ArrayType(StringType)),
    nParams = 1, checkParams = atLeastOne("signature size"))
  // cdc_chunks(text): content-defined chunk structs (start, len, digest)
  val cdcChunks = Kernel("cdc_chunks", CdcChunks.getClass, "compute",
    CdcChunks.Schema, Seq(StringType))

  // ---- layout and membership ---------------------------------------------
  // z_order(x, y): Morton interleave for 2-D data layout clustering
  val zOrder = Kernel("z_order", ZOrder2.getClass, "interleave", LongType,
    Seq(LongType, LongType))
  // bloom_might_contain(filter, item, numHashes): bloom_build's probe
  val bloomMightContain = Kernel("bloom_might_contain",
    BloomFilterFns.getClass, "mightContain", BooleanType,
    Seq(BinaryType, StringType), nParams = 1)
  val bloomMightContainLong = Kernel("bloom_might_contain_long",
    BloomFilterFns.getClass, "mightContainLong", BooleanType,
    Seq(BinaryType, LongType), nParams = 1)

  // ---- media: header and payload decoders, NULL on unreadable bytes -------
  val mediaDims = Kernel("media_dims", MediaDims.getClass, "decode",
    MediaDims.Schema, Seq(BinaryType), nullableResult = true)
  val audioMeta = Kernel("audio_meta", AudioMeta.getClass, "decode",
    AudioMeta.Schema, Seq(BinaryType), nullableResult = true)
  // audio_blocks(binary, nBlocks): per-block peak and sum of squares
  val audioBlocks = Kernel("audio_blocks", AudioBlocks.getClass, "decode",
    AudioBlocks.Schema, Seq(BinaryType), nParams = 1, nullableResult = true)
  val gifFrames = Kernel("gif_frames", GifFrames.getClass, "decode",
    GifFrames.Schema, Seq(BinaryType), nullableResult = true)
  // bmp_thumb / png_thumb(binary, gridW, gridH): RGB-hex thumbnail
  val bmpThumb = Kernel("bmp_thumb", BmpThumb.getClass, "decode",
    StringType, Seq(BinaryType), nParams = 2, nullableResult = true)
  val pngThumb = Kernel("png_thumb", PngThumb.getClass, "decode",
    StringType, Seq(BinaryType), nParams = 2, nullableResult = true)
  val exifMeta = Kernel("exif_meta", ExifMeta.getClass, "decode",
    ExifMeta.Schema, Seq(BinaryType), nullableResult = true)
  val gpsScrub = Kernel("gps_scrub", GpsScrub.getClass, "scrub",
    GpsScrub.Schema, Seq(BinaryType), nullableResult = true)

  val kernels: Seq[Kernel] = Seq(rollingHash, nfcNormalize, accentStrip,
    wordShingles, wordChunks, wordChunkStructs, minhashSig, cdcChunks,
    zOrder, bloomMightContain, bloomMightContainLong, mediaDims, audioMeta,
    audioBlocks, gifFrames, bmpThumb, pngThumb, exifMeta, gpsScrub)

  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name requires $n argument(s), got ${exprs.length}")
      f(exprs)
    }

  /** A static-int argument (shingle size, plane/component count) must be a
    * foldable literal — these parameters shape the generated code, they are
    * not per-row data.
    */
  private def litInt(name: String, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$name: argument must be a literal integer")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$name: expected an integer literal, got $other")
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "str_before" -> arity("str_before", 2)(exprs =>
      strBeforeExpr(exprs(0), exprs(1))),
    "str_after" -> arity("str_after", 2)(exprs =>
      strAfterExpr(exprs(0), exprs(1))),
    // Native codegen vector/dedup primitives (graft.functions.*)
    "fp_dot" -> arity("fp_dot", 2)(exprs =>
      FixedPointDot(exprs(0), exprs(1))),
    // lsh_bucket(vec, nPlanes[, planeOffset]) — the optional offset selects
    // a disjoint slice of the static plane matrix (table t of an ensemble
    // passes t * nPlanes).
    "lsh_bucket" -> ((exprs: Seq[Expression]) => {
      if (exprs.length != 2 && exprs.length != 3)
        throw new IllegalArgumentException(
          s"lsh_bucket requires 2 or 3 arguments, got ${exprs.length}")
      LshBucket(exprs(0), litInt("lsh_bucket", exprs(1)),
        if (exprs.length == 3) litInt("lsh_bucket", exprs(2)) else 0)
    }),
    // hamming_le(codeA, codeB, d) — similarity-join predicate; joins whose
    // condition carries it are rewritten by plans.HammingJoinRewrite
    "hamming_le" -> arity("hamming_le", 3)(exprs =>
      HammingLE(exprs(0), exprs(1), litInt("hamming_le", exprs(2)))),
    // misra_gries(item, k) — heavy-hitters candidate summary (aggregate;
    // the analyzer wraps the bare AggregateFunction)
    "misra_gries" -> arity("misra_gries", 2)(exprs =>
      MisraGriesAgg(exprs(0), litInt("misra_gries", exprs(1)))),
    // count_min(item, width, depth) — approximate-frequency sketch
    // aggregate; counters are order-independent sums, so estimates gate
    "count_min" -> arity("count_min", 3)(exprs =>
      CountMinAgg(exprs(0),
        litInt("count_min", exprs(1)), litInt("count_min", exprs(2)))),
    // bloom_build(item, numBits, numHashes) — membership filter aggregate
    "bloom_build" -> arity("bloom_build", 3)(exprs =>
      BloomFilterAgg(exprs(0),
        litInt("bloom_build", exprs(1)), litInt("bloom_build", exprs(2)))),
    // dhash56(string) — 56-bit perceptual difference hash over the
    // payload's code points (stub-pixel contract; Hamming-joinable)
    "dhash56" -> arity("dhash56", 1)(exprs => DHash56(exprs.head))) ++
    kernels.map { k =>
      val n = k.inputs.length
      k.name -> arity(k.name, n + k.nParams)(exprs =>
        KernelCall(k, exprs.take(n), exprs.drop(n).map(litInt(k.name, _))))
    }
}

/** Plan-level safety checks injected via `SparkSessionExtensions`.
  *
  * The one check so far guards the SELF-JOIN LINEAGE TRAP: when both join
  * sides derive from the same DataFrame, an un-aliased
  * `col("k") === col("k")` resolves BOTH sides to one attribute — the
  * condition is trivially true and the equi-join silently degrades to a
  * cross join (Spark only logs a warning). Every LSH/banding pipeline in
  * this engine aliases per side precisely to dodge this; the check rule
  * turns the remaining footgun into a fail-fast analysis error for any
  * session built with [[GraftExtensions]].
  */
object GraftChecks {
  import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

  def trivialSelfJoin(plan: LogicalPlan): Unit =
    // collectWithSubqueries: the trapped join may sit inside an IN/EXISTS
    // subquery plan, which plain foreach does not descend into
    plan.collectWithSubqueries { case j: Join =>
      j.condition.foreach(_.foreach {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if a.exprId == b.exprId => fail(a, b)
        case EqualNullSafe(a: AttributeReference, b: AttributeReference)
            if a.exprId == b.exprId => fail(a, b)
        case _ => ()
      })
    }

  private def fail(a: AttributeReference, b: AttributeReference): Nothing =
    throw new IllegalArgumentException(
      s"join condition '${a.name} = ${b.name}' compares an attribute " +
        "with itself (both sides resolve to the same column — the " +
        "self-join lineage trap); alias the join key differently on " +
        "each side, e.g. .select(col(\"k\").as(\"k_a\"))")
}

/** Session-build-time registration:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", name), builder))
    }
    e.injectCheckRule(_ => GraftChecks.trivialSelfJoin)
    // tier-(c): similarity joins written declaratively (hamming_le in a
    // join condition) re-plan from nested-loop to chunked equality join
    e.injectOptimizerRule(_ => graft.plans.HammingJoinRewrite)
    // tier-(c): numeric band joins (abs(a-b) <= d) re-plan from
    // nested-loop to a bucket equality join (exact, multiplicity-safe)
    e.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}
