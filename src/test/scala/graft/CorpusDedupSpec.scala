package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusDedup

class CorpusDedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = (1 to 60).map(i => s"tok$i").mkString(" ")

  test("exact stage keeps the minimum id per distinct content") {
    val docs = Seq((5L, base), (2L, base), (9L, "other text here")).toDF("doc_id", "text")
    val kept = CorpusDedup.exactSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L))
  }

  test("run drops a near-duplicate (one appended token) but keeps distinct docs") {
    val near = base + " extra"
    val distinct = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, near), (4L, distinct))
      .toDF("doc_id", "text")
    val out = CorpusDedup.run(docs).select("doc_id").as[Long].collect().toSet
    // 2 is an exact dup of 1; 3 is a simhash near-dup of 1; 4 survives.
    assert(out == Set(1L, 4L), s"got $out")
  }

  test("run is idempotent and preserves original columns") {
    val docs = Seq((1L, base, "en"), (2L, base, "en"), (7L, "unique words entirely", "de"))
      .toDF("doc_id", "text", "lang")
    val once = CorpusDedup.run(docs)
    assert(once.columns.toSeq == Seq("doc_id", "text", "lang"))
    val twice = CorpusDedup.run(once)
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("clusterLabels gives every doc a label; near-dups share it") {
    val near = base + " extra"
    val distinct = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (3L, near), (4L, distinct)).toDF("doc_id", "text")
    val lbl = CorpusDedup.clusterLabels(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.keySet == Set(1L, 3L, 4L), "one row per input doc, singletons included")
    assert(lbl(1L) == lbl(3L), "near-dups must share a cluster label")
    assert(lbl(4L) == 4L, "a singleton labels itself")
  }

  test("substringDedup: exact dups fully covered, a shared 8-run flags exactly its extent, within-doc repeats make two blocks, clean docs zero") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sub_dedup").toString
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    // 8-token run a1..a8 embedded mid-doc between unique flanks.
    val c = ((1 to 6).map(i => s"c$i") ++ (1 to 8).map(i => s"a$i") ++
      (1 to 6).map(i => s"d$i")).mkString(" ")
    // The same 8-run twice WITHIN one doc, 4 unique tokens apart:
    // blocks at positions 0 and 12, gap 12 > k=8 -> two blocks.
    val x = ((1 to 8).map(i => s"x$i") ++ (1 to 4).map(i => s"z$i") ++
      (1 to 8).map(i => s"x$i")).mkString(" ")
    val u = (1 to 20).map(i => s"u$i").mkString(" ")
    Seq((1L, a), (2L, a), (3L, c), (4L, u), (5L, x))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // (n_tokens, n_kgrams, n_dup_kgrams, n_dup_blocks, dup_tokens, max_block_tokens)
    def run(k: Int) = graft.queries.DedupQueries
      .substringDedup(spark, dir, k = k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val out = run(8)
    assert(out(1L) == ((20L, 13L, 13L, 1L, 20L, 20L)), s"exact dup: ${out(1L)}")
    assert(out(2L) == out(1L), "both exact-dup twins report identically")
    assert(out(3L) == ((20L, 13L, 1L, 1L, 8L, 8L)), s"shared run: ${out(3L)}")
    assert(out(4L) == ((20L, 13L, 0L, 0L, 0L, 0L)), s"clean doc: ${out(4L)}")
    assert(out(5L) == ((20L, 13L, 2L, 2L, 16L, 8L)), s"within-doc: ${out(5L)}")
    // k knob: any duplicated k-span contains duplicated (k-1)-spans, so
    // shrinking k can only grow the flagged-token coverage.
    val k4 = run(4)
    out.foreach { case (id, o) =>
      assert(k4(id)._5 >= o._5, s"doc $id: k=4 coverage ${k4(id)._5} < k=8 ${o._5}")
    }
  }

  test("leakageSafeSplit: near-dups land on the same side at EVERY trainPct") {
    // The property a per-doc split violates: whatever the bucket
    // boundary, members of one near-dup cluster co-assign. Sweep the
    // boundary so the assertion can't pass by bucket luck.
    val near = base + " extra"
    val docs = Seq((1L, base), (3L, near), (4L, (1 to 60).map(i => s"zzz$i").mkString(" ")))
      .toDF("doc_id", "text")
    (10 to 90 by 20).foreach { pct =>
      val split = CorpusDedup.leakageSafeSplit(docs, trainPct = pct)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(split(1L) == split(3L), s"near-dups split apart at trainPct=$pct")
    }
  }

  test("a warm leakageSafeSplit on a small corpus runs at most 12 jobs") {
    // Three near-dup chains of 8 (each member substitutes one more token
    // than the previous one), an exact copy and 20 unrelated docs: far
    // below the one-task gate, so label propagation runs no rounds.
    val chains = (0 until 3).flatMap { c =>
      val toks = (1 to 60).map(i => s"c${c}t$i")
      (0 until 8).map(k => (100L * c + k, toks.zipWithIndex.map { case (t, i) => if (i < k) s"sub$i" else t }.mkString(" ")))
    }
    val singles = (1 to 20).map(d => (1000L + d, (1 to 60).map(i => s"s${d}w$i").mkString(" ")))
    val docs = (chains ++ singles :+ (2000L -> chains.head._2)).toDF("doc_id", "text")
    def call() = CorpusDedup.leakageSafeSplit(docs).collect()
    val cluster = call().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cluster.size == docs.count() && cluster(2000L) == 0L)
    val chainClusters = chains.map(d => cluster(d._1)).distinct.size
    assert(chainClusters < chains.size / 2, s"$chainClusters clusters over the chains")
    val jobs = SparkTestSession.countJobs(call())
    assert(jobs <= 12, s"$jobs jobs")
  }

  test("run = exact survivors minus the larger id of every near-dup pair") {
    val rnd = new scala.util.Random(41)
    val docs = (0 until 25).flatMap { b =>
      val toks = Vector.fill(60)(s"w${rnd.nextInt(300)}")
      val near = toks.updated(rnd.nextInt(60), "sub")
      Seq((10L * b, toks.mkString(" ")), (10L * b + 1, near.mkString(" ")),
        (10L * b + 2, toks.mkString(" ")))
    }.toDF("doc_id", "text")
    val kept = CorpusDedup.exactSurvivors(docs, "doc_id", "text").cache()
    val survivors = kept.select("doc_id").as[Long].collect().toSet
    val dropped = CorpusDedup.nearDupPairs(kept, "doc_id", "text").select("y").as[Long].collect().toSet
    val out = CorpusDedup.run(docs).select("doc_id").as[Long].collect()
    assert(out.length == out.distinct.length)
    assert(dropped.nonEmpty && out.toSet == survivors -- dropped)
    kept.unpersist()
  }

  test("an empty or one-doc corpus gives empty or one-row results, no error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(CorpusDedup.run(empty).count() == 0)
    assert(CorpusDedup.nearDupPairs(empty, "doc_id", "text").count() == 0)
    assert(CorpusDedup.leakageSafeSplit(empty).count() == 0)
    val one = Seq((7L, base)).toDF("doc_id", "text")
    assert(CorpusDedup.run(one).select("doc_id").as[Long].collect().toSeq == Seq(7L))
    assert(CorpusDedup.nearDupPairs(one, "doc_id", "text").count() == 0)
    val split = CorpusDedup.leakageSafeSplit(one).collect()
    assert(split.length == 1 && split.head.getLong(0) == 7L && split.head.getLong(1) == 7L)
  }
}
