package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextPipeline
import graft.textstats.TextStats

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  // --- ticker extraction, expectations pinned against the reference's
  // python regex (common_stock.py:106-127), see /tmp pin run in Scaladoc.
  test("ticker token extraction matches reference regex semantics") {
    val df = Seq(
      "AAPL and $gme rocket MSFT tsla",
      "Buy $GME 🚀🚀 at example.com now FOMO YOLO",
      "a B CC DDD $x1 $Mixed").toDF("text")
    val got = df.select(TextPipeline.extractTickerTokens(col("text")))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got === List(
      List("AAPL", "gme", "MSFT"),
      List("GME", "FOMO", "YOLO"),
      List("CC", "DDD", "x", "Mixed")))
  }

  test("top ticker mentions: semi-join + anti-blacklist + deterministic top-k") {
    val docs = Seq(
      "AAPL up big, AAPL rally, buy TSLA",
      "TSLA and AAPL, avoid FOMO",
      "GME squeeze FOMO FOMO").toDF("text")
    val tickers = Seq("aapl", "tsla", "gme", "fomo").toDF("symbol")
    val top = TextPipeline.mostCommonTickers(Seq(docs), Seq("text"), tickers,
      "symbol", blacklist = Seq("fomo"), k = 3).collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toList ===
      List(("AAPL", 3L), ("TSLA", 2L), ("GME", 1L)))
  }

  test("exact dedup: canonical fingerprint groups case/punct variants") {
    val df = Seq(
      (1L, "Hello, World! This is GRAFT."),
      (2L, "hello world this is graft"),
      (3L, "entirely different document text")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "doc_id", "text")
      .filter(col("n_copies") > 1).collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("keep_id") === 1L)
    assert(Dedup.dropExactDups(df, "doc_id", "text").count() === 2)
  }

  private val nearDupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3L, "completely unrelated text about spark catalyst optimizer internals and codegen"),
    (4L, "another unrelated piece mentioning minhash signatures banding and buckets"))
    .toDF("doc_id", "text")

  test("minhash LSH finds the near-duplicate pair and only it") {
    val pairs = Dedup.minhashNearDups(nearDupDocs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toList === List((1L, 2L)))
    assert(pairs(0).getDouble(2) > 0.7)
  }

  test("simhash near-dups: small hamming for near-identical docs") {
    val pairs = Dedup.simhashNearDups(nearDupDocs, "doc_id", "text",
      maxHamming = 8, chunks = 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("ngram jaccard pairs") {
    val pairs = Dedup.ngramJaccardPairs(nearDupDocs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toList === List((1L, 2L)))
  }

  test("repetition features: exact counts on hand-checked docs") {
    val docs = Seq(
      (0L, "a a b"),     // dup "a"; bigrams "a a","a b"
      (1L, "x"),         // single token, no bigrams
      (2L, ""),          // empty doc survives with zeros
      (3L, "a a a a"),   // maximal repetition
      (4L, null)         // NULL text counts as an empty doc, not NULLs
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionFeatures(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out(0) === ((0L, 3L, 2L, 1L, 2L, 2L, 2L, 1L)))
    assert(out(1) === ((1L, 1L, 1L, 0L, 1L, 0L, 0L, 0L)))
    assert(out(2) === ((2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(out(3) === ((3L, 4L, 1L, 3L, 4L, 3L, 1L, 3L)))
    assert(out(4) === ((4L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("PII redaction: email/IP/phone replaced, audit counts exact") {
    val docs = Seq(
      (0L, "mail bob.smith+x@ex-ample.co.uk or 192.168.0.1 tel 555-0199"),
      (1L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextStats.piiCount(col("text"), TextStats.emailRe).as("e"),
        TextStats.piiCount(col("text"), TextStats.ipv4Re).as("i"),
        TextStats.piiCount(col("text"), TextStats.phoneRe).as("p"),
        TextStats.redactPii(col("text")).as("r"))
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 1L)
    assert(out(0).getLong(2) === 1L)
    assert(out(0).getLong(3) === 1L)
    assert(out(0).getString(4) === "mail <EMAIL> or <IP> tel <PHONE>")
    assert(out(1).getLong(1) === 0L)
    assert(out(1).getString(4) === "no pii here at all")
  }

  test("brute-force cosine top-k is exact on hand vectors") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 2).orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toList === List(2L, 3L))
    val expected = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    assert(math.abs(top(0).getDouble(2) - expected) < 1e-12)
  }

  test("LSH top-k returns correctly-scored subset on real embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.limit(3)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, planes = 4)
    val bruteScores = brute.select("query_id", "vec_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lshRows = lsh.select("query_id", "vec_id", "cosine").collect()
    assert(lshRows.nonEmpty)
    // every LSH result's cosine matches the exact computation
    lshRows.foreach { r =>
      val exact = bruteScores.get((r.getLong(0), r.getLong(1)))
      exact.foreach(e => assert(math.abs(e - r.getDouble(2)) < 1e-12))
    }
  }

  test("IVF top-k: correctly-scored results, high recall vs brute force") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 8)
    val ivfRows = ivf.collect()
    assert(ivfRows.nonEmpty)
    // probing ALL cells (nProbe = nCentroids) must recover the exact top-k
    val ivfSet = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.keySet === ivfSet)
    ivfRows.foreach { r =>
      assert(math.abs(brute((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-12)
    }
  }

  test("connected components + dropNearDups keep one survivor per cluster") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // ~dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta kappa"),  // ~dup of 1,2
      (4L, "totally different content about spark plans and codegen stages"),
      (5L, "another isolated document mentioning shuffles and partitions"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDups(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L)) // cluster {1,2,3} -> survivor 1
  }

  test("connected components converge on a long chain (pointer jumping)") {
    // a 40-node path graph has diameter 39 — plain min-label propagation
    // would need 39 rounds; pointer jumping must finish within maxIter=10
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comps.length === 40)
    assert(comps.forall(_._2 === 0L)) // everyone labeled with the chain min
  }

  test("vec_dot returns NULL on length mismatch or null elements (HOF parity)") {
    import graft.functions.VectorFunctions
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (Seq(1.0, 2.0, 5.0), Seq(3.0, 4.0))) // truncated vector
      .toDF("a", "b")
    val rows = df.select(VectorFunctions.dot(col("a"), col("b"))).collect()
    assert(rows(0).getDouble(0) === 11.0)
    assert(rows(1).isNullAt(0)) // mismatch -> NULL, not a prefix cosine
  }

  test("sessionize splits on gaps and is cumulative per user") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 2L),
      (1L, Timestamp.valueOf("2024-01-01 01:30:00"), 3L), // gap > 30min
      (1L, Timestamp.valueOf("2024-01-01 01:45:00"), 4L),
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 5L))
      .toDF("user_id", "ts", "event_id")
    val got = graft.ts.TimeSeriesOps.sessionize(ev, 1800)
      .orderBy("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L),
      (1L, 4L, 2L), (2L, 5L, 1L)))
  }

  test("tfidf: exact counts and sane weights") {
    val docs = Seq(
      (1L, "spark spark hadoop"),
      (2L, "spark flink"),
      (3L, "hadoop flink flink")).toDF("doc_id", "text")
    val rows = graft.textstats.TextStats.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token")) ->
        (r.getAs[Long]("term_count"), r.getAs[Long]("doc_len"),
          r.getAs[Long]("doc_freq"), r.getAs[Double]("tfidf"))).toMap
    val (tc, dl, dfq, w) = rows((1L, "spark"))
    assert(tc === 2L && dl === 3L && dfq === 2L)
    assert(math.abs(w - 2.0 / 3 * math.log(3.0 / 2)) < 1e-15)
    // a term in every doc has idf 0
    assert(rows.filter(_._1._2 == "flink").forall(_._2._3 == 2L))
  }

  test("LangMarkerScores: one-pass scores, shared markers, empty input") {
    import graft.functions.TextFunctions
    import graft.textstats.TextStats.langMarkers
    val df = Seq(
      "la la la",              // "la" is a marker of BOTH fr and es
      "the of and to in",      // pure en markers
      "",                      // no tokens -> all zero (denominator 1)
      "xyzzy plugh").toDF("text")
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val rows = df.select(
        TextFunctions.langMarkerScores(toks, langMarkers).as("s"))
      .collect().map(_.getSeq[Double](0).toList)
    // lang order is sorted: de, en, es, fr
    assert(rows(0) === List(0.0, 0.0, 1.0, 1.0)) // la credits es AND fr
    assert(rows(1) === List(0.0, 1.0, 0.0, 0.0))
    assert(rows(2) === List(0.0, 0.0, 0.0, 0.0))
    assert(rows(3) === List(0.0, 0.0, 0.0, 0.0))
  }

  test("lastYearsGlobal equals keyed lastYears on a single-key frame") {
    import graft.ts.TimeSeriesOps
    val df = Seq(
      ("2020-03-01", 1.0), ("2021-06-01", 2.0), ("2022-02-01", 3.0),
      ("2022-12-30", 4.0))
      .toDF("d", "v")
      .select(col("d").cast("timestamp").as("date"), col("v"))
    val global = TimeSeriesOps.lastYearsGlobal(df, 1, "date")
      .select("v").collect().map(_.getDouble(0)).sorted.toList
    val keyed = TimeSeriesOps.lastYears(
        df.withColumn("ticker", lit("k")), 1, "date")
      .select("v").collect().map(_.getDouble(0)).sorted.toList
    // cutoff = Dec 31 of year(max)-1 = 2021-12-31, strictly after
    assert(global === List(3.0, 4.0))
    assert(global === keyed)
  }

  test("text stats: langId, quality, token counts, fingerprint") {
    val df = Seq(
      "the cat sat on the mat and it was happy in the sun",
      "der hund ist nicht mit der katze und das ist gut").toDF("text")
    val langs = df.select(TextStats.langId(col("text")).getField("lang"))
      .collect().map(_.getString(0)).toList
    assert(langs === List("en", "de"))

    // tie-break: the documented (score desc, language ASC) contract —
    // "la" scores 1.0 for both es and fr (shared marker), so the pick
    // must be the alphabetically smaller 'es'; "le the" ties en/fr at
    // 0.5 and must pick 'en'
    val ties = Seq("la", "le the").toDF("text")
      .select(TextStats.langId(col("text")).getField("lang"))
      .collect().map(_.getString(0)).toList
    assert(ties === List("es", "en"))

    val q = TextStats.qualityFeatures(
      Seq("Good plain sentence with many common the of and words here.").toDF("text"),
      "text").collect()(0)
    assert(q.getAs[Double]("n_tokens") === 11.0)
    assert(q.getAs[Double]("quality_score") > 0.5)

    val counts = Seq("Hello world, 42 tokens!").toDF("text")
      .select(TextStats.tokenCount(col("text")),
        TextStats.subwordCount(col("text"))).collect()(0)
    assert(counts.getInt(0) === 4)
    assert(counts.getInt(1) === 6) // Hello | world | , | 42 | tokens | !

    val fps = Seq("Hello, World!", "hello world", "other").toDF("text")
      .select(TextStats.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("multimodal plumbing: real-format encode -> partition-wise " +
      "header parse -> features") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(30)
    val media = Multimodal.syntheticMediaTable(docs)
    val feats = Multimodal.extractFeatures(media, frameStride = 4).collect()
    assert(feats.length === 30)
    feats.foreach { f =>
      val id = f.media_id
      (id % 3) match {
        case 0 =>
          assert(f.format === "bmp" && f.n_frames === 1L)
          assert(f.width === 8 + id % 16 && f.height === 8 + id % 12)
        case 1 =>
          assert(f.format === "mp3" && f.width === 0L && f.height === 0L)
          assert(f.n_frames === 3 + id % 6)
        case _ =>
          assert(f.format === "gif" && f.n_frames === 2 + id % 3)
          assert(f.width === 10 + id % 10 && f.height === 10 + id % 8)
      }
      assert(f.frames_sampled === (f.n_frames + 3) / 4)
    }
  }
}
