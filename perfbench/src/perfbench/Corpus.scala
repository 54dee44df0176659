package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

import graft.fixtures.TranscriptGen
import graft.model.{DocKey, Turn}
import graft.tokenize.Tokenizer
import graft.verify.Oracle

/** The seeded corpus: a base of `baseConvs` conversations plus `batches`
  * append batches of `batchConvs` new conversations each. The seed only
  * offsets the conversation-number range handed to
  * [[TranscriptGen.benchConv]], which is pure in the conversation number,
  * so one seed always gives the same text. Every turn is also kept on the
  * driver for query generation and the reference answers.
  *
  * Seeds map to disjoint ranges of `ConvStride` conversations, wrapping
  * after `SeedRange` seeds: a turn's timestamp grows by 97 s per
  * conversation number, and numbers beyond about 9e10 overflow Spark's
  * microsecond timestamps (the range used here ends before year 9999). */
final class Corpus(val seed: Long, val baseConvs: Int, val batchConvs: Int,
    val batches: Int) {
  require(baseConvs + batches * batchConvs <= Corpus.ConvStride,
    "corpus larger than one seed's conversation range")
  val offset: Long =
    Corpus.ConvStride * (1L + java.lang.Math.floorMod(seed, Corpus.SeedRange))

  val base: Seq[Turn] =
    (offset until offset + baseConvs).flatMap(TranscriptGen.benchConv)
  val batch: IndexedSeq[Seq[Turn]] = (0 until batches).map { i =>
    val lo = offset + baseConvs + i.toLong * batchConvs
    (lo until lo + batchConvs).flatMap(TranscriptGen.benchConv)
  }

  /** About 1 % of the base conversations, the ones the workloads delete. */
  val deletedConvs: Seq[String] = {
    val rnd = new scala.util.Random(seed ^ 0x5deeceL)
    rnd.shuffle((0 until baseConvs).toVector)
      .take(math.max(1, baseConvs / 100)).sorted
      .map(i => TranscriptGen.convId(offset + i))
  }
  private val deletedSet = deletedConvs.toSet
  def isDeleted(t: Turn): Boolean = deletedSet.contains(t.conv_id)

  def textBytes(ts: Seq[Turn]): Long =
    ts.iterator.map(t => Option(t.text).map(_.getBytes(UTF_8).length.toLong)
      .getOrElse(0L)).sum

  /** Document frequency of every kept token over base and all batches. */
  lazy val docFreq: Map[String, Int] = {
    val m = mutable.HashMap.empty[String, Int]
    (base.iterator ++ batch.iterator.flatten).foreach { t =>
      Tokenizer.tokenSet(t.text).foreach(w => m(w) = m.getOrElse(w, 0) + 1)
    }
    m.toMap
  }

  /** Write the base (generated on the executors from the offset range) and
    * each batch as parquet under `dir`. */
  def write(spark: SparkSession, dir: String, partitions: Int): Unit = {
    import spark.implicits._
    spark.range(offset, offset + baseConvs, 1L, partitions).as[Long]
      .flatMap(TranscriptGen.benchConv _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/base")
    batch.zipWithIndex.foreach { case (ts, i) =>
      spark.createDataset(ts).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch$i")
    }
  }

  def baseDs(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/base").as[Turn]
  }
  def batchDs(spark: SparkSession, dir: String, i: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/batch$i").as[Turn]
  }
  /** Every turn of the base and the first `n` batches. */
  def allDs(spark: SparkSession, dir: String, n: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet((s"$dir/base" +: (0 until n).map(i => s"$dir/batch$i")): _*)
      .as[Turn]
  }

  /** Reference index over the base and the first `n` batches, in commit
    * order, plus the tombstoned keys. */
  def oracle(n: Int): (Oracle, Set[DocKey]) = {
    val turns = base ++ batch.take(n).flatten
    (new Oracle().indexAll(turns),
      turns.filter(isDeleted).map(t => DocKey(t.conv_id, t.turn_idx)).toSet)
  }
}

object Corpus {
  val ConvStride = 2000L
  val SeedRange = 1000000L
}

/** Seeded query generation. Words come from the built dictionary by df
  * band, or from the text of live turns, so no query is dead by accident:
  * every unquoted (prefix) word is at least 5 characters, above the
  * engine's 4-character minimum for a wildcard match. */
final class QueryGen(dict: Array[(String, Long)], liveTurns: IndexedSeq[Turn],
    docFreq: Map[String, Int]) {
  private val byDf = dict.sortBy { case (t, df) => (-df, t) }.map(_._1)
  private val nHot = math.max(1, byDf.length / 100)
  private val nMid = math.max(1, byDf.length / 5)
  val hot: Array[String] = byDf.take(nHot)
  val mid: Array[String] = byDf.slice(nHot, nMid)
  val rare: Array[String] = byDf.drop(nMid)
  private val hotSet = hot.toSet

  private def pick(rnd: scala.util.Random, a: Array[String]): String =
    a(rnd.nextInt(a.length))

  /** A word as a query term: quoted (exact) or an unquoted prefix of at
    * least 5 characters, which expands to every dictionary word sharing it. */
  private def term(rnd: scala.util.Random, w: String, prefixShare: Double): String =
    if (w.length >= 5 && rnd.nextDouble() < prefixShare)
      w.take(5 + rnd.nextInt(w.length - 4))
    else "\"" + w + "\""

  /** Pure-OR query of 2-4 words, bands hot 25 % / mid 45 % / rare 30 %. */
  def topk(rnd: scala.util.Random): String = {
    val n = 2 + rnd.nextInt(3)
    Iterator.continually {
      val u = rnd.nextDouble()
      pick(rnd, if (u < 0.25) hot else if (u < 0.70) mid else rare)
    }.distinct.take(n).map(term(rnd, _, 0.35)).mkString(" ")
  }

  private def liveTurn(rnd: scala.util.Random, minTokens: Int): IndexedSeq[String] =
    Iterator.continually(liveTurns(rnd.nextInt(liveTurns.length)))
      .map(t => Tokenizer.tokens(t.text).toIndexedSeq)
      .find(_.distinct.length >= minTokens).get

  /** The turn's words outside the hot band when it has at least `n` of
    * them: a query's cost then varies less with the seed. */
  private def preferCold(toks: IndexedSeq[String], n: Int): IndexedSeq[String] = {
    val cold = toks.filterNot(hotSet)
    if (cold.distinct.length >= n) cold else toks
  }

  /** A boolean query (AND / NOT / parentheses, some prefix terms) built
    * around one live turn, which it always matches. */
  def bool(rnd: scala.util.Random): String = {
    val toks = rnd.shuffle(preferCold(liveTurn(rnd, 3).distinct, 3))
    val Seq(a, b, c) = toks.take(3)
    val absent = Iterator.continually(pick(rnd, mid)).find(!toks.contains(_)).get
    def q(w: String) = "\"" + w + "\""
    rnd.nextInt(4) match {
      case 0 => s"${q(a)} AND ${q(b)}"
      case 1 => s"(${q(a)} OR ${q(b)}) AND NOT ${q(absent)}"
      case 2 => s"${q(a)} AND ${b.take(5)}"
      case _ => s"(${a.take(5)} OR ${q(b)}) AND ${q(c)}"
    }
  }

  /** Two adjacent kept tokens of a live turn, outside the hot band when
    * the turn has such a pair. */
  def phrase(rnd: scala.util.Random): String = {
    val toks = liveTurn(rnd, 2)
    val pairs = toks.indices.dropRight(1)
    val cold = pairs.filter(i => !hotSet(toks(i)) && !hotSet(toks(i + 1)))
    val i = if (cold.nonEmpty) cold(rnd.nextInt(cold.length)) else pairs(rnd.nextInt(pairs.length))
    s"${toks(i)} ${toks(i + 1)}"
  }

  /** Pure-OR query with one frequent word, so there is a second page. */
  def page(rnd: scala.util.Random): String = {
    val toks = liveTurn(rnd, 2).distinct
    val common = toks.maxBy(w => docFreq.getOrElse(w, 0))
    val other = Iterator.continually(toks(rnd.nextInt(toks.length)))
      .find(_ != common).get
    "\"" + common + "\" \"" + other + "\""
  }

  /** Share of `words` in the hot band (recorded with the query mix). */
  def hotShare(words: Seq[String]): Double =
    if (words.isEmpty) 0.0 else words.count(hotSet).toDouble / words.length
}

/** Draws pool indexes with Zipf(1) popularity: low indexes repeat often. */
final class Zipf(n: Int) {
  private val cum = {
    val w = (1 to n).map(i => 1.0 / i)
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  def next(rnd: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Comparisons against reference answers. */
object Check {
  private val Tol = 1e-9
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))

  /** Ranked lists agree: equal length, equal scores rank by rank, and the
    * same keys within every group of tied scores — except a tied group cut
    * by the `k` limit, whose members may legitimately differ. */
  def ranked(got: Seq[(DocKey, Double)], want: Seq[(DocKey, Double)],
      k: Int): Option[String] = {
    if (got.length != want.length)
      return Some(s"${got.length} results, reference has ${want.length}")
    val bad = got.indices.find(i => !close(got(i)._2, want(i)._2))
    if (bad.nonEmpty) return Some(s"score differs at rank ${bad.get}")
    var i = 0
    while (i < want.length) {
      var j = i + 1
      while (j < want.length && close(want(j)._2, want(i)._2)) j += 1
      val cut = j == want.length && want.length == k
      if (!cut && got.slice(i, j).map(_._1).toSet != want.slice(i, j).map(_._1).toSet)
        return Some(s"keys differ in ranks $i..${j - 1}")
      i = j
    }
    None
  }

  def counts(got: Seq[(DocKey, Long)], want: Seq[(DocKey, Long)]): Option[String] =
    if (got.toMap == want.toMap && got.length == want.length) None
    else Some(s"${got.length} hits, reference has ${want.length}" +
      (if (got.length == want.length) " (different keys or counts)" else ""))

  /** Phrase reference: overlapping occurrences of the phrase's words as
    * consecutive kept tokens. */
  def phraseCount(text: String, words: Seq[String]): Int = {
    val toks = Tokenizer.tokens(text)
    (0 to toks.length - words.length).count(i =>
      words.indices.forall(j => toks(i + j) == words(j)))
  }
}
