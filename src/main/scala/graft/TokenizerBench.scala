package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Unigram, Wordpiece}

/** Tokenizer vocab-scale probe: train each of the three tokenizer
  * families at a REALISTIC vocabulary (32k — the GPT-2/LLaMA class)
  * over a corpus directory's `documents` table, and record wall time
  * plus the achieved artifact sizes. The specs train toy vocabs (tens
  * of merges); the one cost toy fixtures cannot expose is the BPE
  * merge-loop's ROUND COUNT — this probe measures it, on the
  * driver-side trainer ([[Bpe.trainModel]]) whose round cost is
  * heap arithmetic, not a Spark job scheduling.
  *
  * Usage: runMain graft.TokenizerBench <sfDir> [outPath] [vocab]
  */
object TokenizerBench {
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("TOKENIZER_PROBE_r13.json")
    val vocab = args.lift(2).map(_.toInt).getOrElse(32768)
    val spark = Engine.session("graft-tokenizer-bench")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // shared stats: corpus size + distinct-word (Heaps) count — the
    // quantity that bounds all three trainers' working sets
    val nDocs = docs.count()
    val (nWords, tWf) = timed {
      Wordpiece.wordFrequencies(docs, col("text")).count()
    }

    val ((nMerges, nLex), tBpe) = timed {
      val (m, lx) = Bpe.trainModel(docs, col("text"),
        numMerges = vocab, minPairFreq = 2L)
      (m.count(), lx.count())
    }

    val (nPieces, tWp) = timed {
      Wordpiece.buildVocab(docs, col("text"),
        maxPieces = vocab, maxPieceLen = 12).count()
    }

    val (nUni, tUni) = timed {
      Unigram.train(docs, col("text"), vocabSize = vocab,
        seedSize = vocab * 2, maxPieceLen = 8).count()
    }

    // The testdata corpus is synthetic lorem with a tiny vocabulary —
    // merges exhaust long before a realistic budget. The merge-LOOP
    // cost (the one thing small fixtures can't expose) is probed on a
    // deterministic 200k-word Zipf vocabulary: words are base-26
    // encodings (3-12 chars), freq ~ N/rank, fed through the
    // word-frequency seam so the probe measures exactly the loop.
    import spark.implicits._
    val zipfWords = (1 to 200000).map { i =>
      val sb = new StringBuilder
      var x = i.toLong * 2654435761L % 308915776L // 26^6
      val len = 3 + (i % 10)
      var j = 0
      while (j < len) { sb.append(('a' + (x % 26)).toChar); x = x / 26 + j + i; j += 1 }
      (sb.toString, math.max(2L, 2000000L / i))
    }
    val zdf = zipfWords.toDF("w", "freq")
      .groupBy("w").agg(max(col("freq")).as("freq"))
    val ((zMerges, zWords), tZipf) = timed {
      val (m, lx) = Bpe.trainModelLocalFromWords(zdf, numMerges = vocab,
        minPairFreq = 2L)
      (m.count(), lx.count())
    }

    def d(x: Double): String =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

    // r14 probe: a web-scale corpus has 10^6-10^7 distinct words, not
    // 2×10^5. Generate a 5M-word Zipf lexicon DISTRIBUTED (the driver
    // only ever holds the maxWords-capped head — the documented
    // sampling contract), then measure the 32k merge loop at (a) the
    // default 1M-word cap (the production contract) and (b) the FULL
    // 5M lexicon, with peak driver heap recorded for both so the cap's
    // memory bound is measured, not argued.
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def resetPeaks(): Unit =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .foreach(_.resetPeakUsage())
    def peakHeapMb(): Long =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / (1 << 20)
    val z5 = spark.range(1, 5000001).select(col("id"))
      .as[Long].map { i =>
        val sb = new StringBuilder
        var x = i * 2654435761L % 308915776L
        val len = 3 + (i % 10).toInt
        var j = 0
        while (j < len) { sb.append(('a' + (x % 26)).toChar); x = x / 26 + j + i; j += 1 }
        (sb.toString, math.max(2L, 20000000L / i))
      }.toDF("w", "freq")
      .groupBy("w").agg(max(col("freq")).as("freq"))
      .localCheckpoint()
    val z5Distinct = z5.count()
    def zipfRun(cap: Int): String = {
      System.gc(); resetPeaks()
      val res = try {
        val ((m, lx), t) = timed {
          val (m0, lx0) = Bpe.trainModelLocalFromWords(z5, numMerges = vocab,
            // the probe MEASURES the heap cliff the production guard
            // protects against, so it opts past the bound deliberately
            minPairFreq = 2L, maxWords = Some(cap), allowLargeLexicon = true)
          (m0.count(), lx0.count())
        }
        s"""{"wall_s":${d(t)},"merges":$m,"lexicon_rows":$lx,"peak_heap_mb":${peakHeapMb()}}"""
      } catch { case e: OutOfMemoryError =>
        s"""{"error":"OOM","peak_heap_mb":${peakHeapMb()}}"""
      }
      res
    }
    val zipf5mCapped = zipfRun(1000000)
    val zipf5mFull = zipfRun(6000000)

    val json =
      s"""{"sf":"$sfDir","vocab":$vocab,"n_docs":$nDocs,"n_distinct_words":$nWords,""" +
      s""""word_freq_pass_s":${d(tWf)},""" +
      s""""bpe_local":{"wall_s":${d(tBpe)},"merges":$nMerges,"lexicon_rows":$nLex},""" +
      s""""wordpiece":{"wall_s":${d(tWp)},"pieces":$nPieces},""" +
      s""""unigram":{"wall_s":${d(tUni)},"vocab_rows":$nUni},""" +
      s""""bpe_local_zipf200k":{"wall_s":${d(tZipf)},"merges":$zMerges,"lexicon_rows":$zWords},""" +
      s""""zipf5m_distinct":$z5Distinct,""" +
      s""""bpe_local_zipf5m_cap1m":$zipf5mCapped,""" +
      s""""bpe_local_zipf5m_full":$zipf5mFull}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
