package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.CorpusDedup
import graft.queries.{DedupQueries, SimilarityQueries}

/** The shared near-dup candidate stages against a brute force over the
  * collected rows of seeded corpora: every band self-join must return
  * exactly the pairs that share a band key.
  */
class CandidateStagesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Seeded docs: 30 bases of 60 tokens over a 400-word vocabulary, each
    * with 0-3 variants that substitute 1-4 tokens.
    */
  private def nearDupCorpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until 30).flatMap { b =>
      val base = Vector.fill(60)(s"w${rnd.nextInt(400)}")
      val variants = (0 until rnd.nextInt(4)).map { _ =>
        (0 until 1 + rnd.nextInt(4)).foldLeft(base)((t, _) =>
          t.updated(rnd.nextInt(t.size), s"x${rnd.nextInt(400)}"))
      }
      (base +: variants).zipWithIndex.map { case (t, v) => (100L * b + v, t.mkString(" ")) }
    }
  }

  /** Unordered id pairs (a < b) of `rows` sharing a key under `keys`. */
  private def sharedKeyPairs[K](rows: Seq[(Long, Seq[K])]): Set[(Long, Long)] =
    (for {
      (a, ka) <- rows; (b, kb) <- rows
      if a < b && ka.indices.exists(i => ka(i) == kb(i))
    } yield (a, b)).toSet

  test("simhash chunk self-join = brute-force pairs sharing a chunk within the hamming bound") {
    Seq(11L, 12L).foreach { seed =>
      val docs = nearDupCorpus(seed).toDF("doc_id", "text")
      val chunks = CorpusDedup.simhashChunks(docs, "doc_id", "text")
      val sigs = chunks.select("doc_id", "sig").distinct().as[(Long, Long)].collect().toSeq
      val bands = sigs.map { case (id, sig) =>
        id -> (0 until CorpusDedup.SimhashChunks).map(c => (sig >>> (c * 10)) & 1023L) }
      val sigOf = sigs.toMap
      def hd(a: Long, b: Long) = java.lang.Long.bitCount(sigOf(a) ^ sigOf(b))
      Seq(CorpusDedup.SimhashMaxHamming, 2).foreach { maxHd =>
        val got = CorpusDedup.simhashPairs(chunks, "doc_id", maxHd)
          .select("x", "y", "hd").as[(Long, Long, Int)].collect()
        assert(got.length == got.map(r => (r._1, r._2)).distinct.length, "pairs are distinct")
        val want = sharedKeyPairs(bands).filter { case (a, b) => hd(a, b) <= maxHd }
        assert(got.map(r => (r._1, r._2)).toSet == want, s"seed $seed, maxHamming $maxHd")
        got.foreach { case (a, b, d) => assert(d == hd(a, b)) }
        if (maxHd == CorpusDedup.SimhashMaxHamming) {
          // Pigeonhole: 6 chunks and at most 5 differing bits share a chunk.
          val allPairs = (for ((a, _) <- sigs; (b, _) <- sigs if a < b && hd(a, b) <= maxHd) yield (a, b)).toSet
          assert(want == allPairs && want.nonEmpty, s"seed $seed")
        }
      }
    }
  }

  test("MinHash signatures and band candidates = brute force at every banding") {
    val p = GraftConfig.MinHashPrime
    val rnd = new scala.util.Random(21)
    // 25 base sets of 40 shingle hashes, each with 0-3 variants that
    // replace 2-12 of them, so every banding finds some but not all pairs.
    val sets = (0 until 25).flatMap { b =>
      val base = Vector.fill(40)(rnd.nextLong() & ((1L << 60) - 1))
      val variants = (0 until rnd.nextInt(4)).map { _ =>
        (0 until 2 + rnd.nextInt(11)).foldLeft(base)((s, _) =>
          s.updated(rnd.nextInt(s.size), rnd.nextLong() & ((1L << 60) - 1)))
      }
      (base +: variants).zipWithIndex.map { case (s, v) => (100L * b + v, s) }
    }
    val hashed = sets.flatMap { case (id, s) => s.map(id -> _) }.toDF("doc_id", "s")
    val mh = DedupQueries.minhashSignatures(hashed).cache()
    val sig = mh.collect().map(r => r.getLong(0) -> (1 to GraftConfig.MinHashK).map(r.getLong)).toMap
    sets.foreach { case (id, s) =>
      val want = (0 until GraftConfig.MinHashK).map(i =>
        s.map(x => (GraftConfig.MinHashA(i) * (x % p) + GraftConfig.MinHashB(i)) % p).min)
      assert(sig(id) == want, s"signature of doc $id")
    }
    val counts = Seq((2, 8), (4, 4), (8, 2)).map { case (nb, rpb) =>
      val got = DedupQueries.minhashCandidates(mh, nb, rpb).as[(Long, Long)].collect()
      assert(got.length == got.distinct.length, s"$nb x $rpb pairs are distinct")
      val keys = sig.toSeq.map { case (id, h) => id -> h.grouped(rpb).toSeq }
      val want = sharedKeyPairs(keys)
      assert(got.toSet == want, s"$nb bands x $rpb rows")
      want.size
    }
    assert(counts.head > 0 && counts.head < counts.last, s"banding sweep $counts")
    mh.unpersist()
  }

  test("hyperplane band pairs = brute-force pairs sharing a band key, with their cosine") {
    val rnd = new scala.util.Random(31)
    val bases = (0 until 40).map(_ => Array.fill(64)(rnd.nextGaussian().toFloat))
    // Each base plus 0-2 noisy copies: near copies share most band keys.
    val vecs = bases.zipWithIndex.flatMap { case (v, b) =>
      (0 to rnd.nextInt(3)).map { c =>
        (100L * b + c, if (c == 0) v.toSeq else v.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
      }
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val (bands, rows) = (4, 4)
    val keyCols = (0 until bands).map(b => TextFunctions.packBits((0 until rows).map(r =>
      TextFunctions.lshSign(col("embedding"), b * rows + r))).as(s"k$b"))
    val keys = emb.select(col("vec_id") +: keyCols: _*).collect()
      .map(r => r.getLong(0) -> (1 to bands).map(r.getLong)).toSeq
    val want = sharedKeyPairs(keys)
    val got = SimilarityQueries.hyperplaneBandPairs(emb, bands, rows)
      .select("x", "y", "cos").as[(Long, Long, Double)].collect()
    assert(got.length == got.map(r => (r._1, r._2)).distinct.length, "pairs are distinct")
    assert(got.map(r => (r._1, r._2)).toSet == want && want.nonEmpty)
    val byId = vecs.toMap
    got.foreach { case (a, b, c) =>
      val (x, y) = (byId(a).map(_.toDouble), byId(b).map(_.toDouble))
      val cos = x.zip(y).map { case (u, v) => u * v }.sum /
        math.sqrt(x.map(u => u * u).sum * y.map(v => v * v).sum)
      assert(math.abs(c - cos) < 1e-9, s"cosine of ($a, $b)")
    }
  }

  test("dedup_method_agreement takes both pair sets without their entries' sorts") {
    // Construction + collect at sf0.001, no cached inputs: 25 jobs; 29
    // when the two pair sets were the sorted dedup_minhash_lsh and
    // dedup_simhash outputs.
    spark.catalog.clearCache()
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val jobs = SparkTestSession.countJobs {
      rows = DedupQueries.queries("dedup_method_agreement")(spark, SparkTestSession.sfDir).collect()
    }
    spark.catalog.clearCache()
    val r = rows.head
    assert(r.getLong(2) <= math.min(r.getLong(0), r.getLong(1)) && r.getLong(2) > 0)
    assert(jobs <= 26, s"$jobs jobs")
  }
}
