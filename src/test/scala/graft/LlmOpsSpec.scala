package graft

import org.apache.spark.sql.functions._

import graft.functions.ArrayOps
import graft.operators.{Dedup, Multimodal, Similarity, TextOps}

/** Unit tests for the training-data-pipeline operators (dedup, similarity
  * search, text analysis, multimodal plumbing). */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps lowest id per content") {
    val df = Seq((1L, "x y z"), (5L, "x y z"), (2L, "q")).toDF("id", "text")
    val out = Dedup.exactDedup(df, col("text"), col("id"))
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L))
  }

  test("word shingles: distinct n-grams, short-doc fallback") {
    val df = Seq(Tuple1(Seq("a", "b", "c", "d")), Tuple1(Seq("a", "b"))).toDF("toks")
    val out = df.select(Dedup.wordShingles(col("toks"), 3)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("a b"))
  }

  test("minhash: identical shingle sets give identical signatures; sig is stable") {
    val df = Seq((1L, Seq("s1", "s2", "s3")), (2L, Seq("s3", "s2", "s1")), (3L, Seq("s9")))
      .toDF("id", "sh")
    val sigs = df.select(col("id"), Dedup.minhashSig(col("sh"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))     // order-independent
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 16)
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val base = (0 until 20).map(i => s"tok$i").toSeq
    val near = base.updated(0, "CHANGED")
    val other = (100 until 120).map(i => s"tok$i").toSeq
    val docs = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "toks")
      .withColumn("sh", Dedup.wordShingles(col("toks"), 3))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "sh")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: near-dup docs have small hamming distance") {
    val base = (0 until 40).map(i => s"w$i")
    val near = base.updated(3, "x").updated(7, "y")
    val far = (100 until 140).map(i => s"w$i")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "toks")
      .select(col("id"), Dedup.simhash60(col("toks")).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < 12)
    assert(ham(m(1L), m(3L)) > 15)
  }

  test("cosine: unit vectors, orthogonal and identical") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(3.0f, 4.0f), Seq(3.0f, 4.0f), 1.0)
    ).toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")), col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("brute-force top-k ranks by true cosine") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = df.select(col("vec_id").as("n_id"), col("embedding").as("c_vec"))
    val out = Similarity.bruteForceTopK(q, c, 3)
      .orderBy("rank").select("n_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("LSH bucket: identical vectors share a bucket, opposite vectors do not") {
    val df = Seq((0L, Seq.fill(8)(0.5f)), (1L, Seq.fill(8)(0.5f)),
      (2L, Seq.fill(8)(-0.5f))).toDF("id", "v")
    val b = df.select(col("id"), Similarity.lshBucket(col("v"), 12).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L) && b(0L) != b(2L))
  }

  test("langId scores marker intersections with fixed tie order") {
    val df = Seq(
      Seq("the", "cat", "is", "here"),     // en
      Seq("der", "hund", "ist", "da"),     // de
      Seq("xyz", "qqq")                    // und
    ).toDF("toks")
    val out = df.select(TextOps.langId(col("toks"))).as[String].collect().toSeq
    assert(out == Seq("en", "de", "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq(Seq("a", "b", "c"), Seq("c", "b", "a"), Seq("a", "b", "c"))
      .toDF("toks")
    val fp = df.select(TextOps.fingerprint(col("toks"))).as[Long].collect()
    assert(fp(0) == fp(2) && fp(0) != fp(1))
  }

  test("multimodal batchDecode (mapPartitions) matches expression-side meta") {
    val df = Seq((1L, "hello world"), (2L, "x" * 250)).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val decoded = Multimodal.batchDecode(df, "doc_id", "payload")
      .collect().map(d => d.id -> d).toMap
    assert(decoded(1L).width == 11 % 512 + 64)
    assert(decoded(2L).height == 250 % 384 + 48)
    val meta = Multimodal.withMediaMeta(df, "payload")
      .select(col("doc_id"), col("media_meta.width"), col("media_meta.n_frames"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(meta(1L)._2 == decoded(1L).width)
    assert(meta(2L)._3 == 2) // 250 bytes -> 2 frames
  }

  test("dense reaction fingerprint matches the expression kernel bit-for-bit") {
    import graft.extract.IdentityChemistry
    import graft.operators.Fingerprints
    val df = Seq(
      (0L, Seq("CCO", "c1ccccc1"), Seq("O=C=O")),
      (1L, Seq("O"), Seq.empty[String]),
      (2L, Seq.empty[String], Seq("CC", "CCC", "CCCC")))
      .toDF("original_index", "reactants", "products")
    val viaExpr = Fingerprints.reactionFingerprints(df, IdentityChemistry, 64)
      .as[(Long, Seq[Int])].collect().toMap
    val viaDense = Fingerprints.reactionFingerprintsDense(df, 64)
      .collect().map(r => r.original_index -> r.fp).toMap
    assert(viaExpr == viaDense)
  }

  test("real PNG decode recovers synthesized dimensions") {
    // codec level: synth -> header-only decode round-trips exactly
    val png = Multimodal.ImageCodec.synthPng(123, 45, 7L)
    assert(Multimodal.ImageCodec.dimensions(png).contains((123, 45)))
    assert(Multimodal.ImageCodec.dimensions("not an image".getBytes).isEmpty)
    // pipeline level: synthesize in a column, decode via mapPartitions
    val df = Seq((1L, 123, 45), (2L, 64, 480)).toDF("id", "w", "h")
      .withColumn("payload", Multimodal.synthPng(col("w"), col("h"), col("id")))
    val out = Multimodal.batchDecode(df, "id", "payload")
      .collect().map(d => d.id -> d).toMap
    assert(out(1L).width == 123 && out(1L).height == 45)
    assert(out(2L).width == 64 && out(2L).height == 480)
    // and the Column-level real decode agrees
    val dims = df.select(col("id"), Multimodal.imageDims(col("payload")).as("d"))
      .select(col("id"), col("d._1"), col("d._2"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(dims(1L) == ((123, 45)) && dims(2L) == ((64, 480)))
  }

  test("real WAV header parse recovers synthesized audio metadata") {
    import Multimodal.AudioCodec
    // codec level: synth -> header-only parse round-trips exactly
    val wav = AudioCodec.synthWav(44100, 4410, 7L)
    assert(wav.length == 44 + 4410 * 2)
    assert(AudioCodec.info(wav).contains(
      AudioCodec.WavInfo(44100, 1, 16, 4410L)))
    // javax.sound agrees the payload is a real, well-formed WAV
    val af = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    assert(af.getFormat.getSampleRate == 44100f && af.getFrameLength == 4410)
    // the chunk walk survives a LIST chunk inserted before fmt/data
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    val withList = wav.take(12) ++ list ++ wav.drop(12)
    assert(AudioCodec.info(withList).contains(
      AudioCodec.WavInfo(44100, 1, 16, 4410L)))
    // non-WAV payloads parse to None, never throw
    assert(AudioCodec.info("definitely not RIFF data, padded to 44+ bytes"
      .getBytes).isEmpty)
    assert(AudioCodec.info(wav.take(20)).isEmpty) // truncated header
    assert(AudioCodec.info(Multimodal.ImageCodec.synthPng(8, 8, 1L)).isEmpty)
    assert(AudioCodec.info(null).isEmpty)
    // pipeline level: synthesize in a column, parse via the Column wrapper
    val df = Seq((1L, 8000, 800), (2L, 16000, 24000)).toDF("id", "rate", "n")
      .withColumn("wav", Multimodal.synthWav(col("rate"), col("n"), col("id")))
    val out = df.select(col("id"), Multimodal.audioInfo(col("wav")).as("a"))
      .select(col("id"), col("a.sampleRate"), col("a.nSamples"))
      .as[(Long, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((8000, 800L)) && out(2L) == ((16000, 24000L)))
  }

  test("md5-sample WAV synth + PCM window features round-trip") {
    import Multimodal.AudioCodec
    // samples match the closed form the oracle replays: block b of 8
    // samples = md5('pcm'\1key\1b) hex chars [4j, 4j+4) as signed int16
    val wav = AudioCodec.synthWavHash(8000, 20, "42")
    assert(AudioCodec.info(wav).contains(AudioCodec.WavInfo(8000, 1, 16, 20L)))
    val buf = java.nio.ByteBuffer.wrap(wav)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until 20) {
      val hex = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"pcm\u000142\u0001${i / 8}"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        d.map(x => f"${x & 0xff}%02x").mkString
      }
      val j = i % 8
      val expect = Integer.parseInt(hex.substring(4 * j, 4 * j + 4), 16).toShort
      assert(buf.getShort(44 + 2 * i) === expect, s"sample $i")
    }
    // DSP features agree with a direct recompute over the decoded samples
    val feats = AudioCodec.pcmWindowFeatures(wav, 8).get
    assert(feats.map(_._1) === Seq(0, 1, 2)) // 20 samples, window 8 -> 3 windows
    val samples = (0 until 20).map(i => buf.getShort(44 + 2 * i).toInt)
    feats.foreach { case (w, energy, zc, peak) =>
      val vs = samples.slice(w * 8, math.min(20, (w + 1) * 8))
      assert(energy === vs.map(v => v.toLong * v).sum)
      assert(zc === vs.sliding(2).count(p => p.size == 2 && (p(0) < 0) != (p(1) < 0)))
      assert(peak === vs.map(math.abs).max)
    }
    // non-PCM / undecodable payloads -> None, never throw
    assert(AudioCodec.pcmWindowFeatures("not a wav at all, padded long enough"
      .getBytes, 8).isEmpty)
    assert(AudioCodec.pcmWindowFeatures(null, 8).isEmpty)
  }

  test("real MP4 box walk recovers synthesized container metadata") {
    import Multimodal.VideoCodec
    // codec level: synth -> header-only parse round-trips exactly
    val mp4 = VideoCodec.synthMp4(1000, 90000L, 2, 11L)
    assert(VideoCodec.info(mp4).contains(VideoCodec.Mp4Info(1000, 90000L, 2, 0L)))
    assert(VideoCodec.info(VideoCodec.synthMp4(600, 0L, 0, 1L))
      .contains(VideoCodec.Mp4Info(600, 0L, 0, 0L)))
    // stts: per-trak sample tables sum across traks (real table walk);
    // odd counts split over two entries
    assert(VideoCodec.info(VideoCodec.synthMp4(1000, 500L, 3, 7, 2L))
      .contains(VideoCodec.Mp4Info(1000, 500L, 3, 21L)))
    assert(VideoCodec.info(VideoCodec.synthMp4(1000, 500L, 2, 1, 2L))
      .contains(VideoCodec.Mp4Info(1000, 500L, 2, 2L)))
    // version-1 mvhd (64-bit times) parses too: handcraft one
    def be32(v: Int) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long) = be32((v >> 32).toInt) ++ be32(v.toInt)
    val mvhd1 = be32(40) ++ "mvhd".getBytes("US-ASCII") ++ // 8 hdr + 32 payload
      Array[Byte](1, 0, 0, 0) ++ be64(0L) ++ be64(0L) ++ // v1, creation, modification
      be32(48000) ++ be64(1234567890123L) // timescale, 64-bit duration
    val moov1 = be32(8 + mvhd1.length) ++ "moov".getBytes("US-ASCII") ++ mvhd1
    val ftyp = VideoCodec.synthMp4(1, 0L, 0, 0L).take(28)
    assert(VideoCodec.info(ftyp ++ moov1)
      .contains(VideoCodec.Mp4Info(48000, 1234567890123L, 0, 0L)))
    // non-MP4 payloads parse to None, never throw
    assert(VideoCodec.info("this is certainly not an iso-bmff file".getBytes).isEmpty)
    assert(VideoCodec.info(mp4.take(30)).isEmpty) // truncated before moov
    assert(VideoCodec.info(Multimodal.AudioCodec.synthWav(8000, 80, 1L)).isEmpty)
    assert(VideoCodec.info(Multimodal.ImageCodec.synthPng(8, 8, 1L)).isEmpty)
    assert(VideoCodec.info(null).isEmpty)
    // pipeline level: synthesize in a column, parse via the Column wrapper
    val df = Seq((1L, 600, 1800L, 1, 4), (2L, 1000, 50000L, 3, 9))
      .toDF("id", "ts", "dur", "n", "spt")
      .withColumn("mp4", Multimodal.synthMp4(
        col("ts"), col("dur"), col("n"), col("spt"), col("id")))
    val out = df.select(col("id"), Multimodal.videoInfo(col("mp4")).as("v"))
      .select(col("id"), col("v.timescale"), col("v.duration"),
        col("v.nTracks"), col("v.nSamples"))
      .as[(Long, Int, Long, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) == ((600, 1800L, 1, 4L)) && out(2L) == ((1000, 50000L, 3, 27L)))
  }

  test("resize meta preserves aspect bucket") {
    val df = Seq((640, 480), (100, 50)).toDF("w", "h")
    val out = df.select(Multimodal.resizeMeta(col("w"), col("h"), 256).as("r"))
      .select("r.width", "r.height").as[(Int, Int)].collect().toSeq
    assert(out == Seq((256, 192), (256, 128)))
  }

  test("one-hot vector has a single hot slot plus overflow class") {
    import graft.operators.Features
    val df = Seq(0, 2, 3).toDF("idx")
    val out = df.select(Features.oneHot(col("idx"), 3).as("v"))
      .as[Seq[Int]].collect()
    assert(out(0) == Seq(1, 0, 0, 0))
    assert(out(1) == Seq(0, 0, 1, 0))
    assert(out(2) == Seq(0, 0, 0, 1)) // unseen -> overflow slot
  }

  test("k-means refinement separates clear clusters deterministically") {
    val pts = (0 until 20).map(i => (i.toLong, Seq(1.0f + i * 0.001f, 0.0f))) ++
      (20 until 40).map(i => (i.toLong, Seq(0.0f, 1.0f + i * 0.001f)))
    val df = pts.toDF("vec_id", "embedding")
    def run() = Similarity.kmeansCentroids(df, "vec_id", "embedding", 2, 3, dims = 2)
      .orderBy("cid").as[(Long, Seq[Float])].collect().toSeq
    val c1 = run(); val c2 = run()
    assert(c1 == c2) // deterministic
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding",
      c1.toDF("vec_id", "embedding"))
    val cells = assigned.as[(Long, Long)].collect().toMap
    val groupA = (0L until 20L).map(cells).toSet
    val groupB = (20L until 40L).map(cells).toSet
    assert(groupA.size == 1 && groupB.size == 1 && groupA != groupB)
  }

  test("packChunks: two-pass offsets equal the single-window formulation") {
    val docs = (1L to 200L).map(i => (i, Seq.fill((i % 7).toInt + 1)("w")))
      .toDF("doc_id", "toks")
    val out = TextOps.packChunks(docs, "doc_id", size(col("toks")), 16L, "s")
      .as[(Long, Long, Long, Long)].collect()
    val total = out.map(_._2).sum
    // offsets tile the tape exactly: sorted offsets are the exclusive
    // prefix sums of the token counts in that same order (no gap/overlap)
    val sorted = out.sortBy(_._3)
    var run = 0L
    sorted.foreach { case (_, nt, off, chunk) =>
      assert(off == run, s"gap/overlap at offset $off, expected $run")
      assert(chunk == off / 16, s"chunk id mismatch at $off")
      run += nt
    }
    assert(run == total)
    // deterministic in the seed: same seed = same layout
    val again = TextOps.packChunks(docs, "doc_id", size(col("toks")), 16L, "s")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // new seed = genuine reshuffle: the offset layout differs while the
    // tape-tiling invariant (exclusive prefix sums, no gap/overlap) holds
    val reseeded = TextOps.packChunks(docs, "doc_id", size(col("toks")), 16L, "t")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq != reseeded.sortBy(_._1).toSeq,
      "different seed produced the identical offset layout")
    val rSorted = reseeded.sortBy(_._3)
    var rRun = 0L
    rSorted.foreach { case (_, nt, off, chunk) =>
      assert(off == rRun, s"reseeded gap/overlap at offset $off, expected $rRun")
      assert(chunk == off / 16, s"reseeded chunk id mismatch at $off")
      rRun += nt
    }
    assert(rRun == total)
  }

  test("bloom decontamination agrees with the exact check bit-for-bit") {
    val train = Seq(
      (1L, Seq("a b c", "c d e")),
      (2L, Seq("x y z"))).toDF("doc_id", "sh")
    val test = Seq(
      (10L, Seq("c d e", "q q q")), // contaminated: 1 shared shingle
      (11L, Seq("a b c", "x y z")), // contaminated: 2 shared shingles
      (12L, Seq("fresh only"))      // clean
    ).toDF("doc_id", "sh")
    val exact = TextOps.contaminationCheck(test, train, "doc_id", "sh")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val bloom = TextOps.contaminationCheckBloom(test, train, "doc_id", "sh",
      expectedTestShingles = 64)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(exact == Seq((10L, 1L, false), (11L, 2L, false), (12L, 0L, true)))
    assert(bloom == exact)
  }

  test("piiRedact: typed tags, per-type counts, fixed order") {
    val df = Seq(
      (1L, "mail a.b@x.co or c@y.org, ip 10.0.0.7, dial 555-1234 now"),
      (2L, "no pii here 123 4.5")).toDF("id", "text")
    val (clean, counts) = TextOps.piiRedact(col("text"))
    val cols = col("id") +: clean.as("t") +: counts.map { case (n, c) => c.as(n) }
    val out = df.select(cols: _*).as[(Long, String, Int, Int, Int)]
      .collect().sortBy(_._1)
    assert(out(0)._2 == "mail <EMAIL> or <EMAIL>, ip <IP>, dial <PHONE> now")
    assert((out(0)._3, out(0)._4, out(0)._5) == ((2, 1, 1)))
    assert(out(1)._2 == "no pii here 123 4.5")
    assert((out(1)._3, out(1)._4, out(1)._5) == ((0, 0, 0)))
  }

  test("normalizeWs collapses whitespace/case variants to one dup group") {
    val df = Seq(
      (1L, "Hello  world"),
      (2L, "  hello\tWORLD \n"),
      (3L, "hello worlds")).toDF("doc_id", "text")
    val out = TextOps.normalizedDupGroups(df, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("ngrams: non-distinct frequency semantics, short-doc empty") {
    val df = Seq(
      Tuple1(Seq("a", "b", "a", "b")),
      Tuple1(Seq("only")),
      Tuple1(Seq.empty[String])).toDF("toks")
    val out = df.select(TextOps.ngrams(col("toks"), 2)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b", "b a", "a b")) // repeats kept (unlike shingles)
    assert(out(1) == Seq.empty && out(2) == Seq.empty)
  }

  test("capPerGroup equals the single-window formulation; small groups intact") {
    import graft.functions.XHash
    import graft.operators.Relational
    val df = (1L to 300L).map(i => (i, s"src${i % 7}")).toDF("id", "src")
    val out = Relational.capPerGroup(df, Seq("src"), 10L, "cap",
        Seq(col("id")), col("id").cast("string"))
      .select("id", "src").as[(Long, String)].collect().toSet
    // reference: plain whole-group window over the same hash order
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
      .orderBy(XHash.bucketHash("cap", col("id").cast("string")), col("id"))
    val ref = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("id", "src").as[(Long, String)].collect().toSet
    assert(out == ref)
    assert(out.size == 7 * 10)
    // a group smaller than the cap survives whole
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src")
    val kept = Relational.capPerGroup(tiny, Seq("src"), 10L, "cap",
        Seq(col("id")), col("id").cast("string"))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("pqEncode: nearest sub-centroid per subspace, ties to lowest id") {
    val cb = Seq(
      (0L, Seq(0f, 0f, 10f, 10f)),
      (1L, Seq(10f, 10f, 0f, 0f))).toDF("cid", "v")
    val corpus = Seq(
      (100L, Seq(1f, 1f, 1f, 1f)),   // sub0 → c0, sub1 → c1
      (101L, Seq(9f, 9f, 9f, 9f)),   // sub0 → c1, sub1 → c0
      (102L, Seq(5f, 5f, 5f, 5f))    // equidistant both → lowest id 0
    ).toDF("id", "v")
    val out = Similarity.pqEncode(corpus, "id", "v", cb, "cid", "v", m = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(100L) == Seq(0, 1))
    assert(out(101L) == Seq(1, 0))
    assert(out(102L) == Seq(0, 0))
  }

  test("count-min sketch: estimates never undercount; exact when collision-free") {
    import graft.operators.Sketches
    val terms = ((1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(s"t$i")))
      .toDF("term")
    val exact = terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
    // tiny grid → collisions guaranteed: estimate must only overcount
    val tiny = Sketches.cmsEstimate(
        Sketches.cmsCounters(terms, "term", 4, 8), exact, "term", 4, 8)
      .join(exact, Seq("term"))
      .select("exact_cnt", "cms_cnt").as[(Long, Long)].collect()
    assert(tiny.forall { case (ex, est) => est >= ex })
    // wide grid, 50 terms in 4×4096 cells → w.h.p. some row is clean per
    // term; with d=4 independent rows the min recovers the exact count
    val wide = Sketches.cmsEstimate(
        Sketches.cmsCounters(terms, "term", 4, 4096), exact, "term", 4, 4096)
      .join(exact, Seq("term"))
      .select("exact_cnt", "cms_cnt").as[(Long, Long)].collect()
    assert(wide.forall { case (ex, est) => est == ex })
    // unseen term → 0 (all its cells may still collide, but never negative)
    val unseen = Sketches.cmsEstimate(
        Sketches.cmsCounters(terms, "term", 4, 4096),
        Seq("NEVER_SEEN").toDF("term"), "term", 4, 4096)
      .select("cms_cnt").as[Long].collect().head
    assert(unseen == 0L)
  }

  test("HLL: registers merge by max; raw estimate lands near the truth") {
    import graft.operators.Sketches
    val n = 5000
    val terms = (1 to n).map(i => s"term$i").toDF("term")
    val est = Sketches.hllEstimate(Sketches.hllRegisters(terms, "term"))
      .as[Double].collect().head
    // raw HLL with m=64: relative error ~1.04/sqrt(64) = 13%; allow 3 sigma
    assert(math.abs(est - n) / n < 0.4, s"estimate $est far from $n")
    // duplicates must not move the registers (distinct-count semantics)
    val dup = terms.unionAll(terms).unionAll(terms)
    val est2 = Sketches.hllEstimate(Sketches.hllRegisters(dup, "term"))
      .as[Double].collect().head
    assert(est2 == est)
    // split-merge equals whole-corpus: registers are a max-mergeable sketch
    val a = Sketches.hllRegisters(terms.filter(col("term") < "term3"), "term")
    val b = Sketches.hllRegisters(terms.filter(col("term") >= "term3"), "term")
    val merged = a.unionAll(b).groupBy("reg").agg(max(col("rank")).as("rank"))
    val est3 = Sketches.hllEstimate(merged).as[Double].collect().head
    assert(est3 == est)
  }

  test("zorder2 interleaves bits; clustering makes box queries touch few partitions") {
    import graft.operators.Layout
    // exact interleave vs a reference Scala implementation
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    val pts = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val df = pts.toDF("a", "b")
    val got = df.select(col("a"), col("b"), Layout.zorder2(col("a"), col("b"), 8).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == ref(a, b, 8), s"($a,$b)") }
    // pruning shape: a 64x64 grid z-clustered into 16 range partitions; a
    // 8x8 box intersects only the partitions whose z-range overlaps it —
    // far fewer than a row-major layout would touch (8 of 16: every stripe)
    val grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)).toDF("a", "b")
    val clustered = Layout.clusterByZOrder(grid, col("a"), col("b"), 6, 16)
      .withColumn("pid", spark_partition_id())
    val touched = clustered
      .filter(col("a") >= 8 && col("a") < 16 && col("b") >= 8 && col("b") < 16)
      .select("pid").distinct().count()
    assert(touched <= 2, s"z-order box query touched $touched of 16 partitions")
  }

  test("histogramQuantiles equals the brute-force sort at every percentile") {
    import graft.operators.Sketches
    // skewed longs with heavy ties so boundary bins actually get exercised
    val vals = ((1 to 400).map(i => (i * i % 97).toLong) ++ Seq.fill(50)(7L))
    val df = vals.toDF("v")
    val pcts = Seq(1, 10, 25, 50, 75, 90, 99, 100)
    val sorted = vals.sorted
    def rank(p: Int) = (vals.size.toLong * p + 99) / 100
    // few bins: multiple percentile ranks land mid-bin → in-bin ranking path
    for (bins <- Seq(4, 16, 4096)) {
      val got = Sketches.histogramQuantiles(df, col("v"), pcts, bins)
        .as[(Int, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      pcts.foreach { p =>
        val r = rank(p)
        assert(got(p) == (r, sorted(r.toInt - 1)), s"bins=$bins pct=$p")
      }
    }
  }

  test("histogramQuantilesCont equals brute-force linear interpolation") {
    import graft.operators.Sketches
    val vals = ((1 to 401).map(i => (i * i % 97).toLong) ++ Seq.fill(50)(7L))
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val pcts = Seq(0, 25, 50, 75, 90, 100)
    for (bins <- Seq(4, 4096)) {
      val got = Sketches.histogramQuantilesCont(df, col("v"), pcts, bins)
        .as[(Int, Double)].collect().toMap
      pcts.foreach { p =>
        val n = vals.size.toLong
        val lo = sorted(((100 + (n - 1) * p) / 100 - 1).toInt).toDouble
        val hi = sorted(((100 + (n - 1) * p + 99) / 100 - 1).toInt).toDouble
        val frac = ((n - 1) * p % 100) / 100.0
        assert(got(p) == lo + (hi - lo) * frac, s"bins=$bins pct=$p")
      }
    }
  }

  test("temperatureResample: min source kept whole, others at sqrt ratio, deterministic") {
    import graft.functions.XHash
    import graft.operators.Relational
    val rows = (1 to 400).map(i => (i.toLong, "big")) ++
      (1001 to 1025).map(i => (i.toLong, "small"))
    val df = rows.toDF("id", "src")
    val kept = Relational.temperatureResample(df, "src", "s1",
        col("id").cast("string"))
      .select("id", "src").as[(Long, String)].collect().toSet
    // smallest source: threshold 2^60 keeps everything
    assert(rows.filter(_._2 == "small").forall(kept.contains))
    // big source: exactly the ids whose hash clears floor(sqrt(25/400)·2^60)
    val thr = math.floor(math.sqrt(25.0 / 400.0) * math.pow(2, 60)).toLong
    val expectBig = rows.filter(_._2 == "big")
      .filter(r => XHash.bucketHashJvm("s1", r._1.toString) < thr).toSet
    assert(kept.filter(_._2 == "big") == expectBig)
    // the ratio lands near sqrt(1/16) of 400 = 100 (hash uniformity)
    assert(math.abs(expectBig.size - 100) < 40)
  }

  test("slidingChunks: boundaries, overlap, trailing partial, degenerate docs") {
    val toks80 = (0 until 80).map(i => s"t$i")
    val toks33 = (0 until 33).map(i => s"u$i")
    val df = Seq(
      (1L, toks80),          // 3 full windows: starts 0/24/48
      (2L, toks33),          // 2 windows, second is the 9-token tail
      (3L, (0 until 32).map(i => s"v$i")),  // exactly one window
      (4L, Seq.empty[String])               // empty doc → one empty chunk
    ).toDF("doc_id", "toks")
    val out = TextOps.slidingChunks(df, "doc_id", col("toks"), 32, 24)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(out(1L).map(_._3).toSeq == Seq(32L, 32L, 32L))
    assert(out(1L)(1)._4.startsWith("t24 ") && out(1L)(2)._4.startsWith("t48 "))
    // overlap: window 1 re-covers tokens 24..31 of window 0
    assert(out(1L)(0)._4.endsWith(" t31") && out(1L)(1)._4.contains("t31"))
    assert(out(2L).map(_._3).toSeq == Seq(32L, 9L))
    assert(out(2L)(1)._4 == (24 until 33).map(i => s"u$i").mkString(" "))
    assert(out(3L).map(_._3).toSeq == Seq(32L))
    assert(out(4L).map(t => (t._3, t._4)).toSeq == Seq((0L, "")))
  }

  test("averageHash: closed-form pattern, exposure invariance, null guards") {
    // split at cell column 2 → bits j≥2 of every row: (256−4)·0x01010101010101
    val img = Multimodal.synthSplitPngJvm(64, 56, 16, seed = 5L)
    assert(Multimodal.averageHashJvm(img, 8, 7) ==
      Some(252L * 282578800148737L))
    // different seeds shift absolute brightness; the mean-relative
    // threshold cancels it — same composition, same hash
    val h = (1 to 5).map(s =>
      Multimodal.averageHashJvm(Multimodal.synthSplitPngJvm(64, 56, 16, s), 8, 7))
    assert(h.distinct == Seq(Some(252L * 282578800148737L)))
    // a different split is a different hash
    assert(Multimodal.averageHashJvm(
      Multimodal.synthSplitPngJvm(64, 56, 24, 5L), 8, 7) !=
      Some(252L * 282578800148737L))
    // non-image payloads and sub-grid images refuse, not crash
    assert(Multimodal.averageHashJvm("not an image".getBytes, 8, 7).isEmpty)
    assert(Multimodal.averageHashJvm(
      Multimodal.ImageCodec.synthPng(4, 4, 1L), 8, 7).isEmpty)
  }

  test("averageHashMemo == averageHash row-for-row (repeats, uniques, " +
      "undecodables, nulls)") {
    // payload battery: heavy repeats (the memo's win case), unique
    // payloads (the all-miss case), undecodable bytes (memoized None),
    // and NULLs — plain and memoized hashes must be bit-identical per row
    val rows: Seq[(Long, Array[Byte])] = (0L until 400L).map { i =>
      val p =
        if (i % 4 == 3) s"junk-bytes-$i".getBytes
        else if (i % 4 == 2) Multimodal.synthSplitPngJvm( // unique per row
          64, 56, (i % 7 + 1).toInt * 8, 1000L + i)
        else Multimodal.synthSplitPngJvm( // 7 repeating payloads
          64, 56, (i % 7 + 1).toInt * 8, 7L)
      (i, p)
    }
    val df = rows.toDF("id", "payload").repartition(5)
    val got = df
      .withColumn("plain", Multimodal.averageHash(col("payload"), 8, 7))
      .withColumn("memo", Multimodal.averageHashMemo(col("payload"), 8, 7))
      .select("id", "plain", "memo")
      .as[(Long, Option[Long], Option[Long])].collect()
    assert(got.length == 400)
    got.foreach { case (id, plain, memo) =>
      assert(plain == memo, s"row $id: plain=$plain memo=$memo")
    }
    // undecodables memoize as empty; decodables as the closed-form hash
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(3L).isEmpty && byId(2L).nonEmpty)
    // NULL payloads pass through the memo as null (plain never sees them
    // in production — synth payloads are non-null by construction)
    val nulls = Seq((1L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
      .withColumn("memo", Multimodal.averageHashMemo(col("payload"), 8, 7))
      .select("memo").as[Option[Long]].collect()
    assert(nulls.toSeq == Seq(None))
  }

  test("memoized synthSplitPng column == direct JVM bytes per seed") {
    // the generation memo keys on (w, h, splitX, dark-jitter class); the
    // column output must stay byte-identical to the unmemoized generator
    // for seeds across and within jitter classes, at any partitioning
    val rows = (0L until 300L).map(i => (i, (i % 7 + 1).toInt * 8, i * 31))
    val got = rows.toDF("id", "sx", "seed").repartition(3)
      .withColumn("p", Multimodal.synthSplitPng(
        lit(64), lit(56), col("sx"), col("seed")))
      .select("id", "sx", "seed", "p")
      .as[(Long, Int, Long, Array[Byte])].collect()
    assert(got.length == 300)
    got.foreach { case (id, sx, seed, p) =>
      val direct = Multimodal.synthSplitPngJvm(64, 56, sx, seed)
      assert(java.util.Arrays.equals(p, direct), s"row $id")
    }
  }

  test("frame sampling bounds") {
    val df = Seq(1, 7, 10).toDF("n")
    val out = df.select(size(Multimodal.sampleFrameIdx(col("n"), 3)))
      .as[Int].collect().toSeq
    assert(out == Seq(1, 3, 4))
  }

  test("semanticDedup: within-cell near-dups collapse to the lowest id") {
    // cluster A near (1,0,0,0): 1≈2 (dup), 3 distinct direction;
    // cluster B near (0,1,0,0): 10=11 exactly (dup)
    val vs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.01, 0.0, 0.0)),   // cos(1,2) > 0.99 -> dropped
      (3L, Seq(0.7, 0.0, 0.7, 0.1)),      // same cell, cos < 0.99 -> kept
      (10L, Seq(0.0, 1.0, 0.0, 0.0)),
      (11L, Seq(0.0, 1.0, 0.0, 0.0))      // identical -> dropped
    ).toDF("id", "v")
    val centroids = vs.filter(col("id").isin(1L, 10L))
    val kept = Similarity.semanticDedup(vs, "id", "v", centroids, 0.99)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 10L))
  }

  test("semanticDedup: cross-cell near-dups are NOT compared (cell-local by design)") {
    // two near-identical vectors pulled into different cells by the
    // centroid choice (centroids are an offline artifact, not corpus
    // rows): SemDeDup's approximation keeps both
    val vs = Seq(
      (1L, Seq(1.0, 0.05, 0.0, 0.0)),
      (2L, Seq(1.0, -0.05, 0.0, 0.0))
    ).toDF("id", "v")
    val centroids = Seq(
      (100L, Seq(1.0, 0.06, 0.0, 0.0)),
      (101L, Seq(1.0, -0.06, 0.0, 0.0))
    ).toDF("id", "v")
    assert(vs.select(Similarity.cosine(lit(null).cast("array<double>"), col("v")))
      .as[Option[Double]].collect().forall(_.isEmpty)) // kernel null-safety
    val kept = Similarity.semanticDedup(vs, "id", "v", centroids, 0.99)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("semanticDedup: maxCell shards a hot cell — bounded pairwise, exact dups still collapse") {
    // one giant cell: 1000 vectors all nearest the single centroid. The
    // uncapped pairwise term would be ~500k comparisons; maxCell=50 caps
    // each shard at ~50 rows (~25k total). Planted: 500 exact-duplicate
    // PAIRS (2k and 2k+1 identical) — xxhash64 sharding keys on id, so a
    // pair can split across shards; the guard is a recall knob by design.
    // Assertions: every survivor set is a valid SemDeDup answer (one rep
    // per compared dup pair, lower id wins), sharding only ever KEEPS
    // more (never drops a non-dup), and the capped run completes.
    val n = 1000
    val vs = (0 until n).map { i =>
      // one angle per pair, spaced 0.00314 rad (cos ≈ 0.999995 — below
      // the 0.999999 threshold), identical within the pair; no wraparound
      val t = (i / 2) * (math.Pi / 2) / 500
      (i.toLong, Seq(math.cos(t), math.sin(t), 0.0, 0.0))
    }.toDF("id", "v")
    val centroids = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val keptCapped = Similarity.semanticDedup(
        vs, "id", "v", centroids, 0.999999, maxCell = 50)
      .select("id").as[Long].collect().toSet
    val keptFull = Similarity.semanticDedup(
        vs, "id", "v", centroids, 0.999999)
      .select("id").as[Long].collect().toSet
    // uncapped: exactly one survivor (the even id) per identical pair
    assert(keptFull == (0 until n by 2).map(_.toLong).toSet)
    // capped: all uncapped survivors survive (sharding never adds pairs),
    // and any extra survivor is an odd id whose partner landed elsewhere
    assert(keptFull.subsetOf(keptCapped))
    assert((keptCapped -- keptFull).forall(_ % 2 == 1))
    // the cap genuinely shards this cell (shards = ceil(1000/50) = 20), so
    // at least one same-shard pair must still have collapsed — the capped
    // result cannot degenerate to "kept everything"
    assert(keptCapped.size < n)
  }

  test("spanCorrupt: interleaving input sentinels with target spans reconstructs the doc") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t u v w"),
      (2L, "x"), (3L, "p q r"), (4L, ""),
      (5L, (1 to 47).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        split(col("text"), "\\s+").as("raw"),
        TextOps.spanCorrupt(graft.functions.ArrayOps.tokens(col("text")),
          col("doc_id")).as("sc"))
      .select(col("doc_id"), col("raw"),
        col("sc.n_spans"), col("sc.input_text"), col("sc.target_text"))
      .as[(Long, Seq[String], Long, String, String)].collect()
    val sentinel = "<extra_id_(\\d+)>".r
    out.foreach { case (id, raw, nSpans, input, target) =>
      val toks = raw.filter(_.nonEmpty)
      // parse target into span -> tokens
      val spans = scala.collection.mutable.Map[Int, Vector[String]]()
      var cur = -1
      target.split(" ").filter(_.nonEmpty).foreach {
        case sentinel(j) => cur = j.toInt; spans(cur) = Vector.empty
        case tok => spans(cur) = spans(cur) :+ tok
      }
      assert(spans.size == nSpans, s"doc $id: span count")
      // splice spans back over the input sentinels
      val rebuilt = input.split(" ").filter(_.nonEmpty).flatMap {
        case sentinel(j) => spans(j.toInt)
        case tok => Seq(tok)
      }.toSeq
      assert(rebuilt == toks, s"doc $id: round-trip failed")
      // spans are never longer than spanLen and never empty
      assert(spans.values.forall(s => s.nonEmpty && s.size <= 3), s"doc $id")
    }
  }

  test("fimSplit: PSM segments reconstruct the doc; lengths partition n") {
    val docs = Seq((10L, "a b c d e f g h i"), (11L, "solo"), (12L, ""),
      (13L, (1 to 29).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        graft.functions.ArrayOps.tokens(col("text")).as("toks"),
        TextOps.fimSplit(graft.functions.ArrayOps.tokens(col("text")),
          col("doc_id")).as("f"))
      .select(col("doc_id"), col("toks"), col("f.n_prefix"),
        col("f.n_middle"), col("f.n_suffix"), col("f.fim_text"))
      .as[(Long, Seq[String], Long, Long, Long, String)].collect()
    out.foreach { case (id, toks, np, nm, ns, fim) =>
      assert(np + nm + ns == toks.length, s"doc $id: lengths must partition")
      assert(np >= 0 && nm >= 0 && ns >= 0, s"doc $id")
      val parts = fim.split(" ").filter(_.nonEmpty).toSeq
      val sufAt = parts.indexOf("<SUF>")
      val midAt = parts.indexOf("<MID>")
      assert(sufAt == np && midAt == np + 1 + ns, s"doc $id: marker positions")
      val prefix = parts.slice(0, sufAt)
      val suffix = parts.slice(sufAt + 1, midAt)
      val middle = parts.drop(midAt + 1)
      assert(prefix ++ middle ++ suffix == toks, s"doc $id: PSM round-trip")
    }
  }

  test("winnow: guarantee, degenerate sizes, and subset-of-gram-hashes") {
    val shared = Seq("s1", "s2", "s3", "s4", "s5", "s6") // w+k-1 = 6 tokens
    val d1 = Seq("a1", "a2") ++ shared ++ Seq("a3")
    val d2 = Seq("b1", "b2", "b3", "b4") ++ shared
    val df = Seq((1L, d1), (2L, d2), (3L, Seq("x", "y")), (4L, Seq("p", "q", "r")))
      .toDF("id", "toks")
    val fps = df.select(col("id"), TextOps.winnow(col("toks"), 3, 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    // any shared w+k-1 token run shares at least one fingerprint
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    // fewer than k tokens -> no grams -> empty set
    assert(fps(3L).isEmpty)
    // exactly one gram (<= w hashes) -> exactly its hash
    val oneGramHash = df.filter(col("id") === 4L)
      .select(graft.functions.XHash.bucketHash("winnow", lit("p q r")))
      .as[Long].head()
    assert(fps(4L) == Seq(oneGramHash))
    // fingerprints are a subset of the doc's gram hashes, smaller than all
    val gramHashes = df.filter(col("id") === 1L)
      .select(transform(TextOps.ngrams(col("toks"), 3),
        g => graft.functions.XHash.bucketHash("winnow", g)))
      .as[Seq[Long]].head().toSet
    assert(fps(1L).toSet.subsetOf(gramHashes) && fps(1L).size < gramHashes.size)
  }

  test("snapshotDiff: added/removed/changed statuses; unchanged keys silent") {
    val old = Seq((1L, "d1"), (2L, "d2"), (3L, "d3")).toDF("id", "d")
    val newer = Seq((1L, "d1"), (2L, "DX"), (4L, "d4")).toDF("id", "d")
    val out = graft.operators.Relational.snapshotDiff(old, newer, "id", "d")
      .as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("scd2FromSnapshots matches the class definition on random snapshots") {
    val rnd = new scala.util.Random(11)
    val oldM = (1 to 40).map(i => i.toLong -> s"d${rnd.nextInt(5)}").toMap
    val newM = (1 to 50).filter(_ => rnd.nextBoolean())
      .map(i => i.toLong -> s"d${rnd.nextInt(5)}").toMap
    val out = graft.operators.Relational.scd2FromSnapshots(
        oldM.toSeq.toDF("id", "d"), newM.toSeq.toDF("id", "d"),
        "id", "d", d0 = 3, d1 = 9)
      .as[(Long, String, Int, Option[Int])].collect().toSet
    val expect = (oldM.keySet ++ newM.keySet).flatMap { k =>
      (oldM.get(k), newM.get(k)) match {
        case (None, Some(n)) => Set((k, n, 9, None))
        case (Some(o), None) => Set((k, o, 3, Some(9)))
        case (Some(o), Some(n)) if o == n => Set((k, o, 3, Option.empty[Int]))
        case (Some(o), Some(n)) => Set((k, o, 3, Some(9)), (k, n, 9, None))
        case _ => Set.empty[(Long, String, Int, Option[Int])]
      }
    }
    assert(out == expect)
  }

  test("gapFillDaily invariants on random sparse series") {
    import graft.operators.Relational
    val rnd = new scala.util.Random(13)
    val daily = (1 to 8).flatMap { k =>
      val days = (0 until 40).filter(_ => rnd.nextInt(4) == 0)
      days.map(d => (k.toLong, d, rnd.nextInt(5) + 1L, rnd.nextInt(100).toLong))
    }
    assume(daily.nonEmpty)
    val byKey = daily.groupBy(_._1)
    val out = Relational.gapFillDaily(daily.toDF("k", "d", "n", "m"),
        "k", "d", Seq("n"), Seq("m"))
      .as[(Long, Int, Long, Long)].collect()
    val outByKey = out.groupBy(_._1)
    byKey.foreach { case (k, rows) =>
      val got = outByKey(k).sortBy(_._2)
      val (d0, d1) = (rows.map(_._2).min, rows.map(_._2).max)
      // densified: exactly one row per day of the span
      assert(got.map(_._2).toSeq == (d0 to d1).toSeq)
      val obs = rows.map(r => r._2 -> (r._3, r._4)).toMap
      var lastM = -1L
      got.foreach { case (_, d, n, m) =>
        obs.get(d) match {
          case Some((on, om)) => assert(n == on && m == om); lastM = om
          case None => assert(n == 0L && m == lastM) // zero fill + ffill
        }
      }
    }
  }

  test("bpeLearn: hand-computed three-round merge sequence") {
    val words = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "f")
    val out = TextOps.bpeLearn(words, "word", "f", rounds = 3)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1).toSeq
    // r1: 'a a' (2 per 'aaab' × 3 = 6) → aaab = 'aa a b'; tokens 3·3+2·2=13
    // r2: 'a b' (3 + 2 = 5)            → 'aa ab' / 'ab'; tokens 2·3+1·2=8
    // r3: 'aa ab' (3)                  → 'aaab';         tokens 1·3+1·2=5
    assert(out == Seq(
      (1, "a a", 6L, 13L),
      (2, "a b", 5L, 8L),
      (3, "aa ab", 3L, 5L)))
  }

  test("DataQuality report counts planted violations per check") {
    import graft.operators.DataQuality._
    val dim = Seq(1L, 2L).toDF("k")
    val df = Seq((1L, Option("a"), 5.0), (1L, Option.empty[String], 50.0),
      (3L, Option("c"), -1.0)).toDF("id", "s", "v")
    val out = report(df, Seq(
      Predicate("range", !(col("v") >= 0 && col("v") <= 10)),
      NotNull("nn", "s"),
      Unique("uq", Seq("id")),
      RefIntegrity("ref", "id", dim, "k")))
      .as[(String, Long)].collect().toMap
    assert(out == Map("range" -> 2L, "nn" -> 1L, "uq" -> 2L, "ref" -> 1L))
  }

  test("scd2FromSnapshots: version intervals per change class") {
    val old = Seq((1L, "d1"), (2L, "d2"), (3L, "d3")).toDF("id", "d")
    val newer = Seq((1L, "d1"), (2L, "DX"), (4L, "d4")).toDF("id", "d")
    val out = graft.operators.Relational
      .scd2FromSnapshots(old, newer, "id", "d", d0 = 10, d1 = 20)
      .as[(Long, String, Int, Option[Int])].collect().toSet
    assert(out == Set(
      (1L, "d1", 10, None),           // unchanged: one open version
      (2L, "d2", 10, Some(20)),       // changed: v0 closed at d1...
      (2L, "DX", 20, None),           // ...v1 open
      (3L, "d3", 10, Some(20)),       // removed: closed
      (4L, "d4", 20, None)))          // added: open from d1
  }

  test("lmCoverage: attested-gram fraction, zero-gram and zero-hit docs") {
    val ref = Seq((1L, Seq("a b", "b c", "c d"))).toDF("id", "bi")
    val scored = Seq(
      (10L, Seq("a b", "b c", "x y")),  // 2 of 3 attested
      (11L, Seq("p q")),                // 0 of 1
      (12L, Seq.empty[String])          // no grams at all
    ).toDF("id", "bi")
    val out = TextOps.lmCoverage(scored, ref, "id", "bi")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, h, c) => id -> ((n, h, c)) }.toMap
    assert(out(10L) == ((3L, 2L, 2.0 / 3)))
    assert(out(11L) == ((1L, 0L, 0.0)))
    assert(out(12L) == ((0L, 0L, 0.0)))
  }

  test("subwordEncode: maximal munch, unk collapse, tie-break, empty guard") {
    val vocab = Seq("a", "b", "c", "ab", "abc", "bc")
    val df = Seq("abcabc", "abca", "abd", "", "cab").toDF("tok")
    val out = df.select(col("tok"),
        TextOps.subwordEncode(col("tok"), vocab).as("p"))
      .as[(String, Seq[String])].collect().toMap
    assert(out("abcabc") == Seq("abc", "abc"))  // longest wins at each step
    assert(out("abca") == Seq("abc", "a"))
    assert(out("abd") == Seq("<unk>"))          // 'd' unmatched -> whole-token unk
    assert(out("") == Seq())
    assert(out("cab") == Seq("c", "ab"))
    // ties on length break by value: vocab order never matters
    val tie = Seq("xy", "xz", "x", "y", "z")
    val t1 = df.limit(1).select(TextOps.subwordEncode(lit("xyz"), tie))
      .as[Seq[String]].head()
    val t2 = df.limit(1).select(TextOps.subwordEncode(lit("xyz"), tie.reverse))
      .as[Seq[String]].head()
    assert(t1 == Seq("xy", "z") && t1 == t2)
  }

  test("gopherQuality: each rule fails independently, clean doc passes") {
    val stop = Seq("the", "and")
    val good = Seq("the", "and") ++ (0 until 33).map(i => f"word$i%02d")
    val docs = Seq(
      (1L, good),                                        // passes all
      (2L, good.take(10)),                               // too short
      (3L, (0 until 35).map(i => f"word$i%02d")),        // no stopwords
      (4L, Seq("the", "and") ++ (0 until 33).map(_.toString)), // digits
      (5L, Seq("the", "and") ++ Seq.fill(10)("dup") ++
        (0 until 23).map(i => f"word$i%02d")),           // dominance
      (6L, Seq("the", "and") ++ (0 until 33).map(_ => "a")) // mean_len + dominance
    ).toDF("id", "toks")
    val sigs = TextOps.gopherQuality(col("toks"), stop,
      minToks = 30, maxToks = 80, minMeanLen = 3.0, maxMeanLen = 10.0,
      minStopHits = 2, minAlphaFrac = 0.8, maxTopFrac = 0.12)
    val out = docs.select(col("id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false))
    // signal values, not just the verdict
    val row = docs.filter(col("id") === 5L)
      .select(sigs.toMap.apply("top_frac"), sigs.toMap.apply("stop_hits"))
      .as[(Double, Long)].head()
    assert(row._1 == 10.0 / 35 && row._2 == 2L)
  }

  test("minhashLshPairsDelta == full pairs restricted to those touching the delta") {
    val base = (0 until 20).map(i => s"tok$i")
    val docs = Seq(
      (1L, base), (2L, base.updated(0, "X")),      // old near-dups
      (3L, (50 until 70).map(i => s"w$i")),        // old, unrelated
      (101L, base.updated(1, "Y")),                // new: pairs with 1 and 2
      (102L, (50 until 70).map(i => s"w$i").updated(0, "Z")), // new: pairs with 3
      (103L, (900 until 920).map(i => s"q$i")))    // new, matches nothing
      .toDF("id", "toks")
      .withColumn("sh", Dedup.wordShingles(col("toks"), 3))
    val isNew = col("id") >= 100L
    val full = Dedup.minhashLshPairs(docs, "id", "sh")
      .as[(Long, Long, Int, Int)].collect().toSet
    val delta = Dedup.minhashLshPairsDelta(docs, "id", "sh", isNew)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(delta == full.filter(p => p._1 >= 100L || p._2 >= 100L))
    // the old-old pair (1,2) exists in the full run but never regenerates
    assert(full.exists(p => p._1 == 1L && p._2 == 2L))
    assert(!delta.exists(p => p._1 == 1L && p._2 == 2L))
    assert(delta.exists(p => p._1 == 3L && p._2 == 102L))
  }

  test("ivfPqSearch: ADC ranks by LUT-summed subspace distances") {
    import graft.operators.Similarity
    // 4-dim vectors, m=2 (sub=2); ids 0/1 double as codebook AND coarse
    // centroids. Query id 4 = (0.1, 0, 0, 0):
    //   LUT: sub0 → [0.01, 1.81], sub1 → [0.0, 2.0]
    //   codes: id0 [0,0]  id1 [1,1]  id2 [0,1]  id3 [1,0]
    //   ADC:   id0 0.01   id1 3.81   id2 2.01   id3 1.81
    val vecs = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 1f, 1f)),
      (2L, Seq(0f, 0f, 1f, 1f)),
      (3L, Seq(1f, 1f, 0f, 0f)),
      (4L, Seq(0.1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqSearch(vecs, "vec_id", "embedding",
        centroids = vecs.filter(col("vec_id") < 2),
        codebook = vecs.filter(col("vec_id") < 2),
        m = 2, nprobe = 2, k = 3, queryPred = col("vec_id") === 4)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(out.map(t => (t._2, t._3)).toSeq == Seq((0L, 1), (3L, 2), (2L, 3)))
    // float32 inputs: 0.1f widens to 0.10000000149…, so compare loosely
    assert(math.abs(out(0)._4 - 0.01) < 1e-7)
    assert(math.abs(out(1)._4 - 1.81) < 1e-7)
  }

  test("groupedHistogramQuantiles equals the per-group brute-force sort") {
    import graft.operators.Sketches
    val rows = (1 to 300).map(i => ("a", (i * 7 % 83).toLong)) ++
      (1 to 57).map(i => ("b", (i * i % 13).toLong)) ++ // heavy ties
      Seq(("c", 42L))                                   // singleton group
    val df = rows.toDF("g", "v")
    val pcts = Seq(1, 25, 50, 75, 100)
    for (bins <- Seq(4, 4096)) {
      val got = Sketches.groupedHistogramQuantiles(df, "g", col("v"), pcts, bins)
        .as[(String, Int, Long, Long)].collect()
        .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
      for (g <- Seq("a", "b", "c"); p <- pcts) {
        val vals = rows.filter(_._1 == g).map(_._2).sorted
        val r = (vals.size.toLong * p + 99) / 100
        assert(got((g, p)) == (r, vals(r.toInt - 1)), s"bins=$bins g=$g p=$p")
      }
    }
  }

  test("editDistancePairs: in-block pairs verified exactly, threshold and blocking filter") {
    val pref = "the quick brown fox jump" // 24 chars = the block key
    val base = pref + "s over the lazy dog again"
    val sub = pref + "s ovXr the lazy dog again"  // substitute: dist 1 to base
    val del = pref + "s ovr the lazy dog again"   // delete: dist 1 to base and sub
    val far = pref + "s totally different tail with more words" // > maxDist
    val other = "a wholly different intro matching nothing else"
    val df = Seq((1L, base), (2L, sub), (3L, del), (9L, far), (10L, other))
      .toDF("id", "text")
    val got = Dedup.editDistancePairs(df, "id", "text")
      .as[(Long, Long, Int)].collect().toSet
    // far shares the block but fails the distance verify; other never pairs
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)))
  }

  test("editDistancePairs equals blocked brute force on random mutated strings") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcd"
    def randStr(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    // 12 base strings; mutants edit past the 6-char blocking prefix
    val rows = (0 until 12).flatMap { i =>
      val base = randStr(6) + randStr(10)
      // same block; one substitution past the prefix, or a far random tail
      val mut =
        if (i % 3 == 0) base.substring(0, 7) + randStr(9)
        else base.substring(0, 10) +
          (if (base(10) == 'a') 'b' else 'a') + base.substring(11)
      Seq((i * 2L, base), (i * 2L + 1, mut))
    }
    val df = rows.toDF("id", "text")
    val got = Dedup.editDistancePairs(df, "id", "text", blockLen = 6, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute force under the SAME blocking contract (block-local pairs only)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ai, at) <- rows; (bi, bt) <- rows
      if ai < bi && at.take(6) == bt.take(6) && lev(at, bt) <= 3
    } yield (ai, bi, lev(at, bt))).toSet
    assert(got == expect)
    assert(expect.nonEmpty) // the planted mutants guarantee real pairs
  }

  test("editDistanceCandidates: length band defuses a skewed shared prefix") {
    // the r9-verdict fixture: a whole corpus sharing one 24-char blocking
    // prefix (boilerplate header). A prefix-only block key would generate
    // C(1000,2) ≈ 500k candidate pairs from the single block; the
    // (prefix, ⌊len/(maxDist+1)⌋) key + ±band replication caps candidates
    // at pairs within maxDist characters of each other — and loses nothing,
    // since |len(a)−len(b)| ≤ dist(a,b).
    val rnd = new scala.util.Random(11)
    val pref = "shared-boilerplate-head-" // exactly 24 chars = blockLen
    assert(pref.length == 24)
    def randStr(n: Int) = Seq.fill(n)("abcdefgh"(rnd.nextInt(8))).mkString
    val rows = (0 until 500).flatMap { i =>
      val tail = randStr(10 + (i % 250))
      val mut = tail.updated(rnd.nextInt(tail.length), 'z') // dist 1, same len
      Seq((i * 2L, pref + tail), (i * 2L + 1, pref + mut))
    }
    val df = rows.toDF("id", "text")
    val nCand = Dedup.editDistanceCandidates(df, "id", "text").count()
    assert(nCand < 40000, s"length band failed to split the block: $nCand")
    // exactness on the skewed fixture: equals brute force (lev ≤ 4); the
    // brute force only needs pairs with |len diff| ≤ 4 — a lower bound on
    // edit distance — so it certifies the banding drops nothing
    def levCapped(a: String, b: String, cap: Int): Int = {
      if (math.abs(a.length - b.length) > cap) return cap + 1
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1); cur(0) = i
        var rowMin = cur(0)
        for (j <- 1 to b.length) {
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          rowMin = math.min(rowMin, cur(j))
        }
        if (rowMin > cap) return cap + 1
        prev = cur
      }
      prev(b.length)
    }
    val byId = rows.toMap
    val ids = rows.map(_._1)
    val expect = (for {
      a <- ids; b <- ids
      if a < b && math.abs(byId(a).length - byId(b).length) <= 4
      d = levCapped(byId(a), byId(b), 4) if d <= 4
    } yield (a, b, d)).toSet
    val got = Dedup.editDistancePairs(df, "id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expect)
    assert(expect.size >= 500) // every planted mutation pair found
  }

  test("gapFillDaily: zero fill inside gaps, forward fill, per-key spans") {
    import graft.operators.Relational
    val daily = Seq(
      (1L, 10, 2L, 100L), (1L, 13, 1L, 50L), // days 11, 12 missing
      (2L, 5, 3L, 7L))                       // singleton span: no fill rows
      .toDF("k", "d", "n", "m")
    val out = Relational.gapFillDaily(daily, "k", "d", Seq("n"), Seq("m"))
      .select("k", "d", "n", "m").as[(Long, Int, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 10, 2L, 100L), (1L, 11, 0L, 100L), (1L, 12, 0L, 100L),
      (1L, 13, 1L, 50L), (2L, 5, 3L, 7L)))
  }

  test("duplicateSpans: cross-doc run, intra-doc repeat, gap splitting") {
    val run = (0 until 12).map(i => s"r$i")   // 12-token shared run
    val d1 = (0 until 4).map(i => s"a$i") ++ run ++ (0 until 4).map(i => s"z$i")
    val d2 = (0 until 2).map(i => s"b$i") ++ run
    // intra-doc: the same 8-gram twice, separated by > n filler tokens
    val rep = (0 until 8).map(i => s"q$i")
    val d3 = rep ++ (0 until 10).map(i => s"f$i") ++ rep
    val d4 = (0 until 30).map(i => s"u$i")    // no repeats anywhere
    val df = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("id", "toks")
    val spans = TextOps.duplicateSpans(df, "id", col("toks"), 8)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.toSet).toMap
    // d1: grams starting at 5..9 (1-based) cover tokens 5..16
    assert(spans(1L) == Set((1L, 5L, 16L, 5L)))
    assert(spans(2L) == Set((2L, 3L, 14L, 5L)))
    // d3: two separate 1-gram spans (starts 1 and 19, gap 18 > n)
    assert(spans(3L) == Set((3L, 1L, 8L, 1L), (3L, 19L, 26L, 1L)))
    assert(!spans.contains(4L))
  }

  test("prefixSumOrdered == scanLeft; systematicSample hits the stride count (random weights)") {
    val rnd = new scala.util.Random(20260813L)
    // sparse non-contiguous keys + zero weights mixed in
    val rows = (0 until 500).map(i =>
      (i * 7L + rnd.nextInt(5), rnd.nextInt(1000).toLong))
      .groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq
    val df = rows.toDF("k", "w")
    val got = graft.operators.Relational.prefixSumOrdered(df, "k", "w")
      .select(col("k"), col("__cum")).as[(Long, Long)].collect().toMap
    val expect = rows.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (k, w)) => (k, acc + w) }
      .tail.toMap
    assert(got == expect)
    // systematic sampling: exactly `target` crossings when total div
    // target divides cleanly into the axis (up to the final partial stride)
    val target = 50L
    val total = rows.map(_._2).sum
    val t = total / target
    val picked = graft.operators.Relational.systematicSample(df, "k", "w", target)
      .select(col("k")).as[Long].collect().toSet
    val expPicked = rows.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (k, w)) => (k, acc + w) }
      .tail.zip(rows.sortBy(_._1)).collect {
        case ((k, cum), (_, w)) if cum / t > (cum - w) / t => k
      }.toSet
    assert(picked == expPicked)
    assert(math.abs(picked.size - target) <= total / t / target + 1)
  }

  test("prefixSumOrdered: wide keys (max > 2^63/buckets) rank correctly") {
    // same overflow class the grouped op fixed: key = value * 2^42 + id
    // pushes key*buckets past 2^63 under the old multiply-first bucket id
    val rnd = new scala.util.Random(13L)
    val rows = (0 until 300).map { i =>
      (rnd.nextInt(2000000).toLong * 4398046511104L + i, 1L)
    }.groupBy(_._1).map(_._2.head).toSeq
    val df = rows.toDF("k", "w")
    val got = graft.operators.Relational.prefixSumOrdered(df, "k", "w")
      .select(col("k"), col("__cum")).as[(Long, Long)].collect().toMap
    val expect = rows.sortBy(_._1).zipWithIndex
      .map { case ((k, _), i) => k -> (i + 1L) }.toMap
    assert(got == expect)
  }

  test("removeFrequentLines: drops shared chunks, keeps order, drops all-boilerplate docs") {
    // chunk=2; line "x y" planted in 3 docs (>= minDocs=3)
    val docs = Seq(
      (1L, "x y a b c d e"), // boiler + 3 lines (last partial)
      (2L, "x y f g"),
      (3L, "x y"),           // ONLY the boilerplate → must vanish entirely
      (4L, "h i j k")        // no boilerplate, untouched
    ).toDF("id", "t")
    val got = graft.operators.TextOps.removeFrequentLines(docs, "id", "t", 2, 3L)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> (("a b c d e", 3L)),
      2L -> (("f g", 1L)),
      4L -> (("h i j k", 2L))))
    // docLines alignment: planted line only counts when chunk-aligned —
    // doc 5's "x y" sits at offset 1, so it is NOT the frequent line
    val shifted = Seq((1L, "x y a"), (2L, "x y b"), (3L, "x y c"),
      (5L, "q x y")).toDF("id", "t")
    val got2 = graft.operators.TextOps.removeFrequentLines(shifted, "id", "t", 2, 3L)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got2(5L) == "q x y")
  }

  test("columnProfile: nulls excluded from min/max/ndv, counted in n_nulls") {
    val df = Seq[(java.lang.Long, String)]((1L, "b"), (3L, null), (null, "a"),
      (3L, "b")).toDF("k", "s")
    val got = graft.operators.DataQuality.columnProfile(df, Seq("k", "s"))
      .as[(String, String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("k") == (("1", "3", 1L, 2L)))
    assert(got("s") == (("a", "b", 1L, 2L)))
  }

  test("negativeSamples: disjoint from positives, k per user, deterministic") {
    val users = Seq(1L, 2L, 3L).toDF("u")
    val pos = Seq((1L, 0L), (1L, 1L), (2L, 5L)).toDF("pu", "pi")
    val numItems = Seq(8L).toDF("__np")
    def run() = graft.operators.Features.negativeSamples(
      users, "u", pos, "pu", "pi", numItems, k = 3, overdraw = 3)
      .as[(Long, Long, Int)].collect().toSet
    val got = run()
    assert(got == run()) // deterministic
    val byUser = got.groupBy(_._1)
    assert(byUser.keySet == Set(1L, 2L, 3L))
    byUser.foreach { case (_, rows) =>
      assert(rows.size == 3)
      assert(rows.map(_._2).size == 3) // distinct items per user
    }
    val posSet = Set((1L, 0L), (1L, 1L), (2L, 5L))
    assert(got.forall { case (u, it, _) => !posSet((u, it)) && it >= 0 && it < 8 })
  }

  test("grouped HLL registers are max-mergeable; estimate matches whole-corpus") {
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 2000).map(i =>
      (if (i % 2 == 0) "a" else "b", s"t${rnd.nextInt(400)}", i))
    val whole = rows.toDF("g", "term", "i")
    val regsWhole = graft.operators.Sketches
      .hllRegistersGrouped(whole, "g", "term")
    // split halves, sketch each, merge by max — must equal the whole sketch
    val h1 = rows.filter(_._3 < 1000).toDF("g", "term", "i")
    val h2 = rows.filter(_._3 >= 1000).toDF("g", "term", "i")
    val merged = graft.operators.Sketches.hllRegistersGrouped(h1, "g", "term")
      .unionByName(graft.operators.Sketches.hllRegistersGrouped(h2, "g", "term"))
      .groupBy("g", "reg").agg(max(col("rank")).as("rank"))
    val a = regsWhole.as[(String, Long, Int)].collect().toSet
    val b = merged.as[(String, Long, Int)].collect().toSet
    assert(a == b)
    val est = graft.operators.Sketches.hllEstimateGrouped(merged, "g")
      .as[(String, Double)].collect().toMap
    val estWhole = graft.operators.Sketches.hllEstimateGrouped(regsWhole, "g")
      .as[(String, Double)].collect().toMap
    assert(est == estWhole)
    assert(est.keySet == Set("a", "b") && est.values.forall(_ > 0))
  }

  test("applyCdc: latest version wins, late delete beats update, inserts land") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p")
    val ch = Seq(
      (1L, "a2", "U", 1), (1L, "a3", "U", 2), // latest update wins
      (2L, "x", "U", 1), (2L, "x", "D", 2),   // late delete beats update
      (9L, "new", "I", 1)
    ).toDF("k", "p", "op", "v")
    val got = graft.operators.Relational.applyCdc(snap, ch, "k", "op", "v")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a3"), (3L, "c"), (9L, "new")))
  }

  test("groupedWeightedQuantile == brute-force weighted rank (random, all pcts)") {
    val rnd = new scala.util.Random(20260813L)
    // few distinct values → heavy ties, weights up to 50, 3 groups
    val rows = (0 until 600).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(40).toLong, 1L + rnd.nextInt(50))
    }
    val df = rows.toDF("g", "v", "wt")
    val pcts = Seq(1, 5, 50, 95, 100)
    // all pcts in ONE run — neighbors often share a boundary bin at bins=8
    val got = graft.operators.Sketches
      .groupedWeightedQuantiles(df, "g", col("v"), col("wt"), pcts, bins = 8)
      .as[(String, Int, Long)].collect()
      .map { case (g, p, v) => (g, p) -> v }.toMap
    val expect = (for {
      (g, rs) <- rows.groupBy(_._1); p <- pcts
    } yield {
      val tw = rs.map(_._3).sum
      val target = (tw * p + 99) / 100
      val byV = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      (g, p) -> byV.collectFirst {
        case (v, w) if { cum += w; cum >= target } => v
      }.get
    }).toMap
    assert(got == expect)
    // single-pct wrapper drops the pct column
    val one = graft.operators.Sketches
      .groupedWeightedQuantile(df, "g", col("v"), col("wt"), 50, bins = 8)
      .as[(String, Long)].collect().toMap
    assert(one == expect.collect { case ((g, 50), v) => g -> v })
  }

  test("prefixSumOrderedBy: per-group scanLeft with SIGNED weights") {
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 400).map { i =>
      (s"g${i % 4}", i.toLong * 3 + rnd.nextInt(3), rnd.nextInt(21).toLong - 10)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "k", "w")
    val got = graft.operators.Relational
      .prefixSumOrderedBy(df, Seq("g"), "k", "w", buckets = 5)
      .select(col("g"), col("k"), col("__cum"))
      .as[(String, Long, Long)].collect()
      .map { case (g, k, c) => (g, k) -> c }.toMap
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(_._2).scanLeft(("", 0L, 0L)) {
        case ((_, _, acc), (_, k, w)) => (g, k, acc + w)
      }.tail.map { case (_, k, c) => (g, k) -> c }
    }
    assert(got == expect)
  }

  test("prefixSumOrderedBy: wide composite keys (span > 2^63/buckets) rank correctly") {
    // the q146/q148 class: key = value * 2^42 + id, span ~8.8e17 — the
    // old multiply-first bucket id overflowed int64 and scrambled ranks
    val rnd = new scala.util.Random(11L)
    val rows = (0 until 300).map { i =>
      val value = rnd.nextInt(200000).toLong
      (s"g${i % 3}", value * 4398046511104L + i, 1L)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "k", "w")
    val got = graft.operators.Relational
      .prefixSumOrderedBy(df, Seq("g"), "k", "w", buckets = 32)
      .select(col("g"), col("k"), col("__cum"))
      .as[(String, Long, Long)].collect()
      .map { case (g, k, c) => (g, k) -> c }.toMap
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(_._2).zipWithIndex.map { case ((_, k, _), i) =>
        (g, k) -> (i + 1L)
      }
    }
    assert(got == expect)
  }

  test("leadOrderedBy: per-group sorted-neighbor, empty buckets skipped, null value carried") {
    val rnd = new scala.util.Random(31L)
    // sparse clustered keys → many empty buckets between clusters; some
    // null values to prove the value channel never coalesces across rows
    val rows = (0 until 300).map { i =>
      val k = (i / 10).toLong * 1000 + i % 10 + rnd.nextInt(2)
      (s"g${i % 3}", k, if (k % 7 == 0) None else Some(k * 2))
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "k", "v")
    val got = graft.operators.Relational
      .leadOrderedBy(df, Seq("g"), "k", "v", buckets = 7)
      .select(col("g"), col("k"), col("__nextKey"), col("__nextVal"))
      .as[(String, Long, Option[Long], Option[Long])].collect()
      .map { case (g, k, nk, nv) => (g, k) -> ((nk, nv)) }.toMap
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.zip(sorted.drop(1).map(Some(_)) :+ None).map {
        case ((_, k, _), next) =>
          (g, k) -> ((next.map(_._2), next.flatMap(_._3)))
      }
    }
    assert(got == expect)
  }

  test("groupedWeightedBudgetThreshold: prefix selection hits the budget exactly") {
    val rnd = new scala.util.Random(53L)
    // unique composite values (i distinct), weights 1..30
    val rows = (0 until 500).map { i =>
      (s"g${i % 4}", i.toLong, 1L + rnd.nextInt(30))
    }
    val df = rows.toDF("g", "v", "wt")
    for (budget <- Seq(1L, 40L, 300L, 1000000L)) {
      val thr = graft.operators.Sketches
        .groupedWeightedBudgetThreshold(df, "g", col("v"), col("wt"),
          budget, bins = 8)
        .as[(String, Long)].collect().toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.sortBy(_._2)
        val tw = sorted.map(_._3).sum
        val kept = sorted.filter(_._2 <= thr(g)).map(_._3).sum
        if (tw <= budget) assert(kept == tw, s"$g all-fit budget=$budget")
        else {
          // budget reached at the crossing row, never before it
          assert(kept >= budget, s"$g under budget=$budget")
          val prev = sorted.filter(_._2 < thr(g)).map(_._3).sum
          assert(prev < budget, s"$g crossed early budget=$budget")
        }
      }
    }
  }

  test("strictPrefixMaxOrderedBy: exclusive per-group running max, null at each minimum") {
    val rnd = new scala.util.Random(83L)
    // clustered keys → empty buckets; values deliberately non-monotone
    val rows = (0 until 300).map { i =>
      val k = (i / 12).toLong * 500 + i % 12
      (s"g${i % 3}", k, rnd.nextInt(1000).toLong)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "k", "v")
    val got = graft.operators.Relational
      .strictPrefixMaxOrderedBy(df, Seq("g"), "k", "v", buckets = 7)
      .select(col("g"), col("k"), col("__pmax"))
      .as[(String, Long, Option[Long])].collect()
      .map { case (g, k, m) => (g, k) -> m }.toMap
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map { case (_, k, _) =>
        val before = rs.filter(_._2 < k).map(_._3)
        (g, k) -> (if (before.isEmpty) None else Some(before.max))
      }
    }
    assert(got == expect)
  }

  test("strictNeighborsOrderedBy: both directions in one pass, null-v rows skipped") {
    val rnd = new scala.util.Random(97L)
    // mixed carrier/probe rows: null v (probe) must never contribute to
    // either direction — the readings∪grid stack shape q157 rides
    val rows = (0 until 240).map { i =>
      val k = (i / 10).toLong * 300 + i % 10
      val v: Option[Long] = if (i % 4 == 0) None else Some(rnd.nextInt(900).toLong)
      (s"g${i % 2}", k, v)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "k", "v")
    val got = graft.operators.Relational
      .strictNeighborsOrderedBy(df, Seq("g"), "k", "v", buckets = 5)
      .select(col("g"), col("k"), col("__pmax"), col("__smin"))
      .as[(String, Long, Option[Long], Option[Long])].collect()
      .map { case (g, k, p, n) => (g, k) -> ((p, n)) }.toMap
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map { case (_, k, _) =>
        val before = rs.filter(r => r._2 < k && r._3.nonEmpty).flatMap(_._3)
        val after = rs.filter(r => r._2 > k && r._3.nonEmpty).flatMap(_._3)
        (g, k) -> ((if (before.isEmpty) None else Some(before.max),
          if (after.isEmpty) None else Some(after.min)))
      }
    }
    assert(got == expect)
    // agreement with two independent strictPrefixMax passes (q157's old shape)
    val fwd = graft.operators.Relational
      .strictPrefixMaxOrderedBy(df, Seq("g"), "k", "v", buckets = 5)
      .select(col("g"), col("k"), col("__pmax"))
      .as[(String, Long, Option[Long])].collect()
      .map { case (g, k, p) => (g, k) -> p }.toMap
    assert(got.view.mapValues(_._1).toMap == fwd)
  }

  test("paretoFrontier2d matches brute-force strict dominance; ties kept") {
    import graft.operators.Relational
    // planted: (2,5) dominated by (0,5) at equal v; duplicate point
    // (1,6)x2 survives as ONE frontier row; (9,2) dominated at equal key
    val planted = Seq(("a", 0L, 5L), ("a", 2L, 5L), ("a", 1L, 6L),
      ("a", 1L, 6L), ("a", 9L, 9L), ("a", 9L, 2L))
    val gotP = Relational.paretoFrontier2d(planted.toDF("g", "k", "v"),
        Seq("g"), "k", "v", buckets = 3)
      .as[(String, Long, Long)].collect().toSet
    assert(gotP == Set(("a", 0L, 5L), ("a", 1L, 6L), ("a", 9L, 9L)))
    val rnd = new scala.util.Random(19L)
    (0 until 3).foreach { trial =>
      val rows = (0 until 250).map(_ =>
        (s"g${rnd.nextInt(3)}", rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val got = Relational.paretoFrontier2d(rows.toDF("g", "k", "v"),
          Seq("g"), "k", "v", buckets = 5)
        .as[(String, Long, Long)].collect().toSet
      val expect = rows.distinct.filter { case (g, k, v) =>
        !rows.exists { case (g2, k2, v2) =>
          g2 == g && k2 <= k && v2 >= v && (k2 < k || v2 > v)
        }
      }.toSet
      assert(got == expect, s"trial $trial")
    }
  }

  test("binnedOverlapJoin == brute-force overlap theta join, each pair once") {
    import graft.operators.Relational
    val rnd = new scala.util.Random(53L)
    (0 until 3).foreach { trial =>
      // spans from 0 (degenerate point) to 40 — several times binWidth,
      // so rows replicate across many bins and the first-bin dedup works
      val ls = (0 until 120).map { i =>
        val lo = rnd.nextInt(200).toLong
        (i.toLong, rnd.nextInt(4).toLong, lo, lo + rnd.nextInt(41))
      }
      val rs = (0 until 120).map { i =>
        val lo = rnd.nextInt(200).toLong
        (i.toLong, rnd.nextInt(4).toLong, lo, lo + rnd.nextInt(41))
      }
      val got = Relational.binnedOverlapJoin(
          ls.toDF("lid", "k", "l_lo", "l_hi"), "l_lo", "l_hi",
          rs.toDF("rid", "k", "r_lo", "r_hi"), "r_lo", "r_hi",
          Seq("k"), binWidth = 12L)
        .select(col("lid"), col("rid"))
        .as[(Long, Long)].collect().toSeq
      val expect = for {
        (li, lk, llo, lhi) <- ls
        (ri, rk, rlo, rhi) <- rs
        if lk == rk && llo <= rhi && rlo <= lhi
      } yield (li, ri)
      // multiset equality: duplicates would mean a pair met in >1 bin
      assert(got.sorted == expect.sorted, s"trial $trial")
    }
  }

  test("sweepOrderedBy == prefixSumOrderedBy + leadOrderedBy composition") {
    val rnd = new scala.util.Random(41L)
    val rows = (0 until 300).map { i =>
      (s"g${i % 3}", i.toLong * 11 + rnd.nextInt(7), rnd.nextInt(9).toLong - 4)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "k", "w")
    import graft.operators.Relational
    val fused = Relational.sweepOrderedBy(df, Seq("g"), "k", "w", buckets = 6)
      .select(col("g"), col("k"), col("__cum"), col("__nextKey"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    val composed = Relational.leadOrderedBy(
        Relational.prefixSumOrderedBy(df, Seq("g"), "k", "w", buckets = 6),
        Seq("g"), "k", "__cum", buckets = 6)
      .select(col("g"), col("k"), col("__cum"), col("__nextKey"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(fused == composed)
  }

  test("maxConcurrency: sweep matches brute-force timeline; netting at shared instants") {
    // planted: g1 has 3 overlapping intervals, one ends exactly as another
    // starts (net — never 4 concurrent); g2 back-to-back singletons
    val iv = Seq(
      ("g1", 0L, 10L), ("g1", 2L, 6L), ("g1", 4L, 8L), ("g1", 6L, 7L),
      ("g2", 0L, 5L), ("g2", 5L, 9L)
    ).toDF("g", "s", "e")
    val got = graft.operators.Relational.maxConcurrency(iv, "g", "s", "e")
      .as[(String, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    // g1: [0,2)=1 [2,4)=2 [4,6)=3 [6,7)=3(+1−1 nets) [7,8)=2 → peak 3 first at t=4
    assert(got("g1") == ((3L, 4L)))
    assert(got("g2") == ((1L, 0L)))
    // randomized cross-check against a dense timeline walk
    val rnd = new scala.util.Random(99L)
    val rand = (0 until 300).map { _ =>
      val s = rnd.nextInt(500).toLong
      ("r", s, s + 1 + rnd.nextInt(40))
    }
    val rgot = graft.operators.Relational
      .maxConcurrency(rand.toDF("g", "s", "e"), "g", "s", "e")
      .as[(String, Long, Long)].collect().head
    val deltas = rand.flatMap { case (_, s, e) => Seq(s -> 1, e -> -1) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    var cum = 0L; var peak = Long.MinValue; var at = 0L
    deltas.foreach { case (t, d) =>
      cum += d; if (cum > peak) { peak = cum; at = t }
    }
    assert((rgot._2, rgot._3) == ((peak, at)))
  }

  test("bandParams: bits-per-band scales with corpus, bands hold recall") {
    // base geometry at every certification SF (n <= 2^8 * 16 = 4096)
    assert(Similarity.bandParams(0) == ((3, 8)))
    assert(Similarity.bandParams(1000) == ((3, 8)))
    assert(Similarity.bandParams(4096) == ((3, 8)))
    // past the base window r grows: min k >= 8 with 2^k * 16 >= n
    assert(Similarity.bandParams(4097) == ((4, 9)))   // 2^9*16 = 8192
    assert(Similarity.bandParams(100000) == ((6, 13))) // 25x-ladder corpus
    assert(Similarity.bandParams(400000) == ((7, 15))) // 100x-ladder corpus
    assert(Similarity.bandParams(1L << 40) == ((17, 36)))
    // the invariant that kills the quadratic: random collisions per band
    // are ~n^2 / 2^(r+1) <= n * slack / 2 -> linear in n
    for (n <- Seq(5000L, 50000L, 500000L, 5000000L, 1L << 33)) {
      val (_, r) = Similarity.bandParams(n)
      assert((1L << r) * 16 >= n, s"n=$n r=$r")
      assert(r == 8 || (1L << (r - 1)) * 16 < n, s"r minimal at n=$n")
    }
  }

  test("bandedNearDupPairs: adaptive geometry still recalls planted near-dups") {
    // force the 25x-ladder geometry (r=13, b=6) on a small corpus via
    // corpusSize: planted pairs are near-identical (cos ~ 0.99997, per-plane
    // agreement p ~ 0.996, p^13 ~ 0.95 per band, 6 bands -> recall ~ 1-4e-8)
    // so every planted pair must still appear; far-apart vectors never pass
    // the cosine verify regardless of banding.
    val rnd = new scala.util.Random(7L)
    val base = (0 until 40).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      (i.toLong, v.toSeq)
    }
    val mirrors = base.map { case (i, v) =>
      (i + 1000L, (v.head + 0.02 * math.abs(v.head).max(1.0)) +: v.tail)
    }
    val df = (base ++ mirrors).toDF("id", "v")
    for (cs <- Seq(None, Some(100000L))) {
      val pairs = Similarity.bandedNearDupPairs(df, "id", "v",
          baseBits = 8, baseBands = 3, minCosine = 0.999, corpusSize = cs)
        .as[(Long, Long)].collect().toSet
      val planted = base.map { case (i, _) => (i, i + 1000L) }.toSet
      assert(planted.subsetOf(pairs), s"corpusSize=$cs missing=${planted -- pairs}")
      // every reported pair really is a near-dup (the verify step is exact)
      assert(pairs.forall { case (a, b) =>
        (a + 1000L == b) || (b + 1000L == a) || {
          val va = (base ++ mirrors).toMap.apply(a)
          val vb = (base ++ mirrors).toMap.apply(b)
          val dot = va.zip(vb).map { case (x, y) => x * y }.sum
          val na = math.sqrt(va.map(x => x * x).sum)
          val nb = math.sqrt(vb.map(x => x * x).sum)
          dot / (na * nb) >= 0.999
        }
      })
    }
  }
}
