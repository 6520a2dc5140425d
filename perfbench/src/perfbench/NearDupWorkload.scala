package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.MinHashDedup

import Workload.{dirBytes, path, expect}

/** Near-duplicate detection over a seeded corpus of short documents:
  * `MinHashDedup.nearDuplicates` (shingling, MinHash signatures, the LSH
  * band self-join and exact Jaccard verification) and
  * `MinHashDedup.exactDuplicates`. CPU-bound; no destination.
  *
  * About 8% of documents are near-clones of a distinct base document (one
  * word replaced, so shingle Jaccard >= 0.8) and 2% are exact copies. With
  * 16 bands of 2 rows, a pair at Jaccard 0.8 escapes every band with
  * probability 0.36^16 < 1e-7 under independent hash functions.
  */
final class NearDupWorkload(val spark: SparkSession, seed: Long, scale: Double,
                            work: String) extends Workload {
  import NearDupWorkload._

  private val corpusGen = Corpus(seed, math.max(2000L, (BaseDocs * scale).toLong).toInt)
  import corpusGen.{bases, copies, n, text}
  private val corpus = s"$work/src/corpus.parquet"

  // planted (base, copy) pairs, and (base, near-clone) pairs whose shingle
  // Jaccard reaches the threshold
  private var copyPairs = Seq.empty[(Int, Int)]
  private var dueClones = Set.empty[(Int, Int)]
  private var found = Array.empty[Row]
  private var exact: Row = _

  val sourceRoot: String = s"$work/src"
  val destRoot: String = s"$work/dest"
  def inputRows: Long = n.toLong

  def generate(): Seq[(String, Long, Long)] = {
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val gen = corpusGen
    val rows = spark.sparkContext.parallelize(0 until n,
      spark.sparkContext.defaultParallelism).map(i => Row(i, gen.text(i)))
    val docs = spark.createDataFrame(rows, schema)
    docs.write.mode("overwrite").parquet(corpus)
    val firstCopy = bases + corpusGen.nearClones
    copyPairs = (firstCopy until n).map(c => (corpusGen.baseOf(c), c))
    dueClones = (bases until firstCopy).map(c => (corpusGen.baseOf(c), c))
      .filter { case (b, c) => Jaccard.of(text(b), text(c)) >= Threshold }.toSet
    Seq(("corpus", n.toLong, dirBytes(path(corpus))))
  }

  /** The operators cache their prepared signatures and never release them;
    * drop them between passes so every pass starts from the same state.
    */
  def reset(): Unit = spark.catalog.clearCache()

  def pass(tr: Tracer, root: Long): Map[String, Double] = {
    val docs = tr.span("src.load", root)(_ => spark.read.parquet(corpus))
    found = tr.span("lsh.nearDuplicates", root)(_ =>
      MinHashDedup.nearDuplicates(docs, "id", "text", k = K, m = M,
        nBands = Bands, threshold = Threshold)
        .select("id_a", "id_b", "jaccard").collect())
    exact = tr.span("lsh.exactDuplicates", root)(_ =>
      MinHashDedup.exactDuplicates(docs, "id", "text")
        .filter(col("n_docs") > 1)
        .agg(count(lit(1)), coalesce(sum(col("n_docs")), lit(0L)),
          coalesce(max(col("n_docs")), lit(0L)))
        .head())
    Map("lsh.pairs" -> found.length.toDouble, "lsh.recall" -> recall)
  }

  /** Share of planted near-clone pairs at or above the threshold found. */
  private def recall: Double =
    if (dueClones.isEmpty) 1.0
    else found.count(r => dueClones((r.getInt(0), r.getInt(1)))).toDouble / dueClones.size

  override def diagnose(tr: Tracer, root: Long): Map[String, Double] = {
    val docs = spark.read.parquet(corpus)
    val candidates = tr.span("lsh.candidates", root)(_ =>
      MinHashDedup.lshCandidatePairs(docs, "id", "text", k = K, m = M,
        nBands = Bands).count())
    spark.catalog.clearCache()
    Map("lsh.candidates" -> candidates.toDouble)
  }

  /** Exact copies share every band, so each must be found; near-clone
    * recall must reach `MinRecall`; every reported pair must hold its
    * Jaccard, recomputed independently, at or above the threshold; exact
    * duplicate groups must be the planted copies.
    */
  def check(): Unit = {
    val got = found.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    expect(got.size == found.length, "nearDuplicates returned a pair twice")
    val lostCopies = copyPairs.filterNot(got.contains)
    expect(lostCopies.isEmpty,
      s"${lostCopies.size} exact-copy pairs not found, e.g. ${lostCopies.take(3)}")
    expect(recall >= MinRecall, f"near-clone recall $recall%.4f over " +
      f"${dueClones.size} planted pairs is below $MinRecall")
    got.foreach { case ((a, b), j) =>
      val truth = Jaccard.of(text(a), text(b))
      expect(truth >= Threshold && math.abs(truth - j) < 1e-9,
        s"pair ($a, $b) reported at Jaccard $j, independently $truth")
    }
    expect(exact.getLong(0) == copies && exact.getLong(1) == 2L * copies &&
      exact.getLong(2) == (if (copies > 0) 2L else 0L),
      s"exact duplicate groups (groups, docs, largest) = $exact, planted $copies copies")
  }
}

object NearDupWorkload {
  /** Documents at scale 1. */
  val BaseDocs = 20000L
  val VocabSize = 8000
  val K = 3
  val M = 32
  val Bands = 16
  val Threshold = 0.5
  /** Near-clone recall floor. The signature components derive from one
    * base hash through a linear family, so they are not independent and
    * recall falls short of the ideal 1 - 0.36^16 per pair; about 0.1% of
    * planted pairs at Jaccard >= 0.8 are missed.
    */
  val MinRecall = 0.99
}

/** The seeded corpus: document `id`'s text is a pure function of the seed,
  * so any process can regenerate any document.
  *
  * Clone `c` (c >= bases) copies base `(c - bases) * stride + c % stride`,
  * so no base has two clones and no clone-clone pair exists.
  */
final case class Corpus(seed: Long, n: Int) {
  import NearDupWorkload.VocabSize

  val nearClones: Int = n * 8 / 100
  val copies: Int = n * 2 / 100
  val bases: Int = n - nearClones - copies

  @transient private lazy val vocab: Array[String] = {
    val r = new SplittableRandom(seed)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
      "da", "fe", "gu", "hi", "jo", "bu")
    Array.tabulate(VocabSize)(i =>
      Iterator.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString + i)
  }

  def baseOf(c: Int): Int = {
    val stride = bases / (nearClones + copies)
    (c - bases) * stride + c % stride
  }

  private def tokens(id: Int): Array[Int] =
    if (id < bases) {
      val r = new SplittableRandom(seed * 1000003L + id)
      Array.fill(30 + r.nextInt(21))(r.nextInt(VocabSize))
    } else {
      val w = tokens(baseOf(id))
      if (id < bases + nearClones) {
        val r = new SplittableRandom(seed * 7919L + id)
        val i = r.nextInt(w.length)
        w(i) = (w(i) + 1 + r.nextInt(VocabSize - 1)) % VocabSize
      }
      w
    }

  def text(id: Int): String = tokens(id).map(vocab).mkString(" ")
}

/** Word 3-shingle Jaccard, written independently of the operators under
  * test: lower-cased whitespace tokens, distinct shingles.
  */
object Jaccard {
  private def shingles(s: String): Set[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(NearDupWorkload.K)
      .filter(_.length == NearDupWorkload.K).map(_.mkString(" ")).toSet

  def of(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    if (x.isEmpty && y.isEmpty) 1.0
    else (x intersect y).size.toDouble / (x union y).size
  }
}
