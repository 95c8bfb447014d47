package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded curation corpus with the schema of the engine's `documents`
  * and `embeddings` tables.
  *
  * Documents: token texts over a small Zipf-weighted vocabulary. A
  * share of them start near-duplicate families: chains of page versions
  * in which each version rewrites one token of the one before (and
  * sometimes inserts one). A chain has `2 + Geometric(ChainP)` versions,
  * drawn without any upper cap, so one family can run past the end of
  * the nominal document count. A few documents are verbatim copies.
  * Document order is shuffled so families are scattered over ids.
  *
  * Embeddings: `Clusters` Gaussian clusters in `Dim` dimensions
  * (label = cluster), plus near-copies of earlier vectors.
  */
object Corpus {
  val ChainP = 0.35
  val FamilyShare = 0.12
  val ExactCopyShare = 0.02
  val Dim = 64
  val Clusters = 10

  private val vocab = ("key agg row scan slow fast table value part hash batch window " +
    "spark order data column join small line customer query merge stream filter sort " +
    "group vector big a the index shard page token model train eval label score").split(' ')
  private val langs = Seq("en" -> 0.4, "zh" -> 0.15, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15)

  final case class Stats(docs: Int, vectors: Int, families: Int, longestChain: Int)

  def write(spark: SparkSession, dir: String, seed: Long, docs: Int, vectors: Int): Stats = {
    val rnd = new java.util.Random(seed)
    val weights = vocab.indices.map(i => 1.0 / (i + 1))
    val total = weights.sum
    def word(): String = {
      var x = rnd.nextDouble() * total
      var i = 0
      while (x > weights(i) && i < weights.size - 1) { x -= weights(i); i += 1 }
      vocab(i)
    }
    def geometric(p: Double): Int = {
      var k = 0
      while (rnd.nextDouble() >= p) k += 1
      k
    }

    val texts = mutable.ArrayBuffer.empty[String]
    var families = 0
    var longest = 0
    while (texts.size < docs) {
      val u = rnd.nextDouble()
      if (u < FamilyShare) {
        families += 1
        val len = 2 + geometric(ChainP)
        longest = math.max(longest, len)
        val toks = mutable.ArrayBuffer.fill(60 + rnd.nextInt(80))(word())
        texts += toks.mkString(" ")
        (1 until len).foreach { _ =>
          val i = rnd.nextInt(toks.size)
          var w = word()
          while (w == toks(i)) w = word()
          toks(i) = w
          if (rnd.nextDouble() < 0.3) toks.insert(rnd.nextInt(toks.size + 1), word())
          texts += toks.mkString(" ")
        }
      } else if (u < FamilyShare + ExactCopyShare && texts.nonEmpty) {
        texts += texts(rnd.nextInt(texts.size))
      } else texts += Seq.fill(10 + rnd.nextInt(90))(word()).mkString(" ")
    }
    val order = texts.indices.map(i => (rnd.nextLong(), i)).sortBy(_._1).map(_._2)
    val docRows = order.zipWithIndex.map { case (src, id) =>
      val t = texts(src)
      var x = rnd.nextDouble()
      val lang = langs.find { case (_, w) => x -= w; x < 0 }.map(_._1).getOrElse("en")
      Row(id.toLong, t, lang, s"src${id % 20}", t.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.parquet(s"$dir/documents.parquet")

    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian() * 0.12)
    val vecs = mutable.ArrayBuffer.empty[(Array[Float], Int)]
    (0 until vectors).foreach { _ =>
      if (vecs.nonEmpty && rnd.nextDouble() < 0.05) {
        val (v, l) = vecs(rnd.nextInt(vecs.size))
        vecs += ((v.map(x => (x + rnd.nextGaussian() * 0.005).toFloat), l))
      } else {
        val l = rnd.nextInt(Clusters)
        vecs += ((centers(l).map(c => (c + rnd.nextGaussian() * 0.06).toFloat), l))
      }
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val vecRows = vecs.zipWithIndex.map { case ((v, l), id) =>
      Row(id.toLong, v.toSeq, l)
    }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    Stats(texts.size, vectors, families, longest)
  }
}
