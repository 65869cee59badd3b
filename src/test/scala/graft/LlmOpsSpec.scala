package graft

import graft.functions.{SimFns, TextFns}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Text / dedup / similarity operator units. */
class LlmOpsSpec extends SparkSpec {

  import spark.implicits._

  test("tokens + counts") {
    val df = Seq("The  quick brown fox", "", "  one ").toDF("t")
    val got = df.select(TextFns.tokenCount(col("t"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(4L, 0L, 1L))
    val bpe = Seq("don't stop 42!").toDF("t")
      .select(TextFns.bpeTokenCount(col("t"))).head().getLong(0)
    // don + ' + t + stop + 4 + 2 + !
    assert(bpe == 7L)
  }

  test("language ID heuristic picks marker-dominant language") {
    val df = Seq(
      "the cat and the dog sat on the mat",
      "der hund und die katze sind nicht hier",
      "le chat et la maison est une belle",
      "el gato y los perros es una casa",
      "zzz qqq xxx").toDF("t")
    val got = df.select(TextFns.langId(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "fr", "es", "und"))
  }

  test("quality score in [0,1] and penalizes garbage") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and runs through the quiet field for a while longer today.",
      "!!!###$$$%%%^^^&&&").toDF("t")
    val s = df.select(TextFns.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(0) > s(1))
  }

  test("fingerprint: stable under whitespace/punct noise") {
    val df = Seq(("a", "Hello,  World!"), ("b", "hello world")).toDF("id", "t")
    val fps = df.select(TextFns.fingerprint(col("t"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("shingles: n-grams, short docs → empty") {
    val got = Seq("a b c d").toDF("t")
      .select(TextFns.shingles(TextFns.tokens(col("t")), 3)).head().getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFns.shingles(TextFns.tokens(col("t")), 3)).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("jaccard exact") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    assert(df.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0) == 0.5)
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = text + " extra trailing"
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, near), (4L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("minhash: the per-row signature equals the batch aggregate, 64 longs and band keys") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, "a b c d e"),
      (3L, "the cat sat on the mat and the cat sat"),
      (4L, "too short")).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getSeq[Any](1), r.getSeq[Any](2))).toMap
    val batch = rows(Dedup.minhashSignatures(sh, "doc_id")
      .select(col("doc_id"), col("mh"), Dedup.bandHashes(col("mh"))))
    val perRow = rows(sh.select(col("doc_id"),
        Dedup.minhashSignature(col("shingles")).as("mh"))
      .select(col("doc_id"), col("mh"), Dedup.bandHashes(col("mh"))))
    assert(batch.keySet == Set(1L, 2L, 3L), "a doc with no trigram has no batch signature")
    batch.foreach { case (id, (mh, bands)) =>
      assert(mh.length == 64 && bands.length == 16)
      assert(perRow(id) == ((mh, bands)), s"doc $id: per-row and batch signatures differ")
    }
    assert(perRow(4L)._1.forall(_ == null), "no shingle ⇒ every per-row minhash is null")
  }

  test("incremental dedup: stored index matches incoming batch, never incoming×incoming") {
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((10L, text), (11L, other)).toDF("doc_id", "text")
    val path = "target/tmp_inc_idx_spec"
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", path)
    // incoming: a near-copy of indexed doc 10, a novel doc, and TWO
    // identical incoming docs (must NOT pair with each other — only the
    // index side is matched)
    val incoming = Seq(
      (20L, text + " extra trailing"),
      (21L, (200 to 240).map(i => s"tok$i").mkString(" ")),
      (22L, (300 to 340).map(i => s"tok$i").mkString(" ")),
      (23L, (300 to 340).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(incoming, "doc_id", "text", path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    assert(got.toSeq == Seq((20L, 10L)),
      s"expected only the planted (incoming→index) pair, got ${got.toSeq}")
  }

  test("simhash: identical docs at hamming 0, found via chunk blocking") {
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("simhash: packed BIGINT signature encodes exactly the array form's bits — r5 differential") {
    val docs = (1 to 12).map(i =>
      (i.toLong, ((i * 7) to (i * 7 + 50)).map(j => s"w${j % 37}").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val arr = Dedup.simhashSignatures(sh, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val packed = Dedup.simhashSignaturesPacked(sh, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(arr.keySet == packed.keySet)
    arr.foreach { case (id, bits) =>
      val expected = bits.zipWithIndex.foldLeft(0L) { case (acc, (b, i)) =>
        if (b == 1) acc | (1L << i) else acc }
      assert(packed(id) == expected, s"doc $id: packed long must equal bit-folded array sig")
    }
  }

  test("cosine: identity ~1, orthogonal 0") {
    val df = Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))).toDF("a", "b")
    val got = df.select(round(SimFns.cosine(col("a"), col("b")), 9)).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(1.0, 0.0))
  }

  test("cosine: zero vector yields NULL (not NaN), so it drops out of desc top-k — ADVICE r1") {
    val df = Seq(
      (1L, Seq(0f, 0f), Seq(1f, 2f)),
      (2L, Seq(1f, 2f), Seq(1f, 2f))).toDF("id", "a", "b")
    val got = df.select(col("id"), SimFns.cosine(col("a"), col("b")).as("cos"))
    val byId = got.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byId(1L).isEmpty, "zero vector must be NULL, not NaN")
    assert(byId(2L).exists(v => math.abs(v.asInstanceOf[Double] - 1.0) < 1e-9))
    // NULL sorts last under desc → the real match outranks the zero vector
    val first = got.orderBy(col("cos").desc).head()
    assert(first.getLong(0) == 2L)
  }

  test("rp-LSH: identical vectors share buckets; planes deterministic") {
    val planes = SimFns.fixedPlanes(6, 3)
    assert(planes == SimFns.fixedPlanes(6, 3))
    val df = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(1f, 2f, 3f))).toDF("id", "v")
    val keys = df.select(SimFns.rpLshKey(col("v"), planes)).collect().map(_.getString(0))
    assert(keys(0) == keys(1) && keys(0).length == 6)
  }

  test("multimodal: BMP encode→decode round trip + frame sampling shapes") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "hello world"), (2L, "abcdefghij")).toDF("doc_id", "text")
    // real codec: decode(encode(id)) must reproduce the pixel formula's
    // exact statistics, including orientation via the (x,y)-weighted checksum
    val ids = Seq(0L, 1L, 7L, 13L, 200L).toDF("doc_id")
    val stats = Multimodal.decodeBmp(spark, Multimodal.renderBmp(spark, ids))
      .collect().sortBy(_.doc_id)
    assert(stats.length == 5)
    for (st <- stats) {
      val (w, h) = Multimodal.bmpDims(st.doc_id)
      assert(st.width == w && st.height == h)
      val stride = (w * 3 + 3) / 4 * 4
      assert(st.n_bytes == 54L + stride.toLong * h) // header size arithmetic
      var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val r = Multimodal.channel(st.doc_id, x, y, 0)
        val g = Multimodal.channel(st.doc_id, x, y, 1)
        val b = Multimodal.channel(st.doc_id, x, y, 2)
        sr += r; sg += g; sb += b
        ck += (x + 1L) * (y + 1L) * (r + 2L * g + 3L * b)
      }
      assert(st.sum_r == sr && st.sum_g == sg && st.sum_b == sb, s"doc ${st.doc_id} sums")
      assert(st.checksum == ck, s"doc ${st.doc_id}: orientation/stride checksum")
    }
    // a BMP with one padded row exercises the stride math: w=9 → 27-byte
    // rows padded to 28
    assert(Multimodal.bmpDims(1L)._1 == 9 && Multimodal.encodeBmp(1L, 9, 9).length == 54 + 28 * 9)
    val media = docs.select(col("doc_id"), Multimodal.mediaFromText(col("text"), "text/plain").as("media"))
    val frames = Multimodal.sampleFrames(media, "media", 2).collect()
    assert(frames.length == 4) // 2 docs × 2 frames
  }

  test("multimodal resize: stride subsequence, budget bound, metadata scales") {
    import graft.multimodal.Multimodal
    val df = Seq((1L, "abcdefghij" * 20), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), Multimodal.mediaFromText(col("text"), "image/fake").as("media"))
    val rows = df.select(col("doc_id"),
        decode(col("media.bytes"), "UTF-8").as("orig"),
        decode(Multimodal.resize(col("media"), 64).getField("bytes"), "UTF-8").as("res"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    for ((_, orig, res) <- rows) {
      assert(res.length <= 64)
      val k = math.ceil(orig.length / 64.0).toInt
      if (orig.nonEmpty) {
        assert(res.length == (orig.length + k - 1) / k)
        // stride subsequence: res(i) == orig(i*k)
        assert(res.zipWithIndex.forall { case (c, i) => c == orig(i * k) })
      } else assert(res.isEmpty)
    }
  }

  test("vocab_drift: top-20 movers match a driver-side recompute of all scores") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0) % 2, r.getString(1)))
    def bigrams(t: String) = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    }
    val cnt = collection.mutable.Map[(String, Long), Long]().withDefaultValue(0L)
    for ((h, t) <- docs; b <- bigrams(t)) cnt((b, h)) += 1
    val toks = cnt.keys.map(_._1).toSeq.distinct
    val ta = cnt.collect { case ((_, 0L), n) => n }.sum
    val tb = cnt.collect { case ((_, 1L), n) => n }.sum
    val v = toks.size
    val scored = toks.map { t =>
      val (na, nb) = (cnt((t, 0L)), cnt((t, 1L)))
      val s = math.log(((na + 1).toDouble / (ta + v)) / ((nb + 1).toDouble / (tb + v)))
      (t, na, nb, s)
    }
    val top = scored.sortBy { case (t, _, _, s) =>
      (-math.round(math.abs(s) * 1e6), t) }.take(20)
      .map { case (t, na, nb, s) =>
        (t, na, nb, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val got = graft.queries.QueriesText.queries("vocab_drift")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq.map(x => (x._1, x._2, x._3)) == top.map(x => (x._1, x._2, x._3)).toSeq)
    for ((g, e) <- got.zip(top)) assert(math.abs(g._4 - e._4) < 2e-6, s"${g._1}")
  }

  test("embed_drift: per-label centroid cosine in [-1,1], halves partition the labels") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.QueriesSim.queries("embed_drift")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull && col("label").isNotNull).count()
    assert(rows.map(r => r._2 + r._3).sum == total)
    rows.foreach { case (l, _, _, c) =>
      assert(c >= -1.0 && c <= 1.0, s"label $l centroid_cos $c") }
    // exact differential for one label: recompute both centroids in the driver
    val l0 = rows.head._1
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("label") === l0 && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0) % 2, r.getSeq[Double](1).toArray))
    def centroid(h: Long) = {
      val vs = vecs.filter(_._1 == h).map(_._2)
      val dim = vs.head.length
      Array.tabulate(dim)(i => vs.map(_(i)).sum / vs.length)
    }
    val (ca, cb) = (centroid(0), centroid(1))
    val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
    val cos = dot / (math.sqrt(ca.map(x => x * x).sum) * math.sqrt(cb.map(x => x * x).sum))
    val expect = BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.head._4 - expect) < 2e-6,
      s"label $l0: got ${rows.head._4}, driver recompute $expect")
  }

  test("ssjoin_prefix: prefix filtering reproduces brute-force all-pairs exactly") {
    val dir = "/root/testdata/sf0.001"
    // same corpus construction as QueriesDedup.corpus
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 25 === 0).select(col("doc_id"), col("text"))
    val c = base
      .unionByName(base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(base.select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" xtra xtra")).as("text")))
    val toks = c.select(col("doc_id"), array_distinct(TextFns.tokens(col("text"))).as("tk"))
    // brute-force all-pairs with the UNROUNDED τ filter, collapsed on the
    // driver to the declared per-doc (n_matches, best_partner, best_jaccard)
    val brutePairs = toks.as("a").join(toks.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.tk"), col("b.tk"))).cast("double")
          / size(array_union(col("a.tk"), col("b.tk")))).as("j"))
      .where(col("j") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sym = brutePairs.flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
    val brute = sym.groupBy(_._1).map { case (d, ms) =>
      val best = ms.minBy { case (_, p, j) => (-j, p) }
      (d, ms.size.toLong, best._2, math.floor(best._3 * 1e6 + 0.5) / 1e6)
    }.toSet
    val got = graft.queries.QueriesDedup.queries("ssjoin_prefix")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == brute, s"prefix join missed/added docs: ${(brute -- got).take(3)} / ${(got -- brute).take(3)}")
    assert(got.nonEmpty) // planted exact copies guarantee J = 1.0 pairs
  }

  test("embed_neardup: LSH-banded path ≡ brute-force all-pairs, no cartesian in plan") {
    val dir = "/root/testdata/sf0.001"
    // brute-force differential oracle (the pre-round-4 declared form, kept
    // ONLY here: masked-by-sampling O(n²) must never be the declared entry)
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") % 25 === 0).select(col("vec_id"), col("embedding"))
    val all = base.unionByName(
      base.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val brute = all.as("a").join(all.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        SimFns.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .where(col("cos") >= 0.9)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val declared = graft.queries.QueriesDedup.queries("embed_neardup")(spark, dir)
    val got = declared.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute,
      s"LSH path diverged: missing ${(brute -- got).take(3)}, extra ${(got -- brute).take(3)}")
    assert(got.nonEmpty) // planted exact copies guarantee cos = 1.0 pairs
    // the declared plan must be bucketed: no all-pairs join node anywhere
    val plan = declared.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"declared embed_neardup plan contains an all-pairs join:\n$plan")
    // the cosine verifies inside the band join: ONE join, and none on the
    // candidate ids (no join back to the vectors)
    val joins = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(declared.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    assert(joins.size == 1, s"expected one band join, got ${joins.size}:\n$plan")
    joins.foreach { j =>
      val keys = (j.leftKeys ++ j.rightKeys ++ j.condition).flatMap(_.references.map(_.name))
      assert(!keys.exists(Set("id_a", "id_b")), s"join back on candidate ids:\n$j")
    }
  }

  test("ngram_novelty: every shingle is novel exactly once, first doc fully novel") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.QueriesText.queries("ngram_novelty")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // Σ n_novel over docs = |distinct shingles corpus-wide|: each shingle's
    // min-doc owner claims it exactly once
    val distinctShingles = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(explode(TextFns.shingles(TextFns.tokens(col("text")), 3)).as("sh"))
      .agg(countDistinct(col("sh"))).collect().head.getLong(0)
    assert(rows.map(_._3).sum == distinctShingles)
    // the smallest doc_id with any shingles can only own firsts
    val first = rows.minBy(_._1)
    assert(first._4 == 1.0, s"doc ${first._1} novelty ${first._4} != 1.0")
    rows.foreach { case (d, ns, nv, sc) =>
      assert(nv <= ns && sc >= 0.0 && sc <= 1.0, s"doc $d: $nv/$ns score $sc")
    }
  }

  test("token_zipf: slope non-positive, brute-force least squares agrees") {
    val dir = "/root/testdata/sf0.001"
    val counts = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy("source", "w").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val bySource = counts.groupBy(_._1)
    for (r <- graft.queries.QueriesText.queries("token_zipf")(spark, dir).collect()) {
      val (src, n, slope) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(slope <= 0.0, s"$src: freq can't grow with rank, slope $slope")
      val top = bySource(src).sortBy(t => (-t._3, t._2)).take(100)
      assert(top.size == n)
      val xs = top.indices.map(i => math.log(i + 1.0))
      val ys = top.map(t => math.log(t._3.toDouble))
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val bf = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(slope - bf) < 1e-3, s"$src: slope $slope brute $bf")
    }
  }

  test("df_spectrum: buckets partition the distinct-shingle vocabulary") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.QueriesText.queries("df_spectrum")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall { case (b, n) => b >= 1 && b <= 21 && n > 0 })
    val vocab = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(explode(array_distinct(
        TextFns.shingles(TextFns.tokens(col("text")), 3))).as("sh"))
      .agg(countDistinct(col("sh"))).collect().head.getLong(0)
    assert(rows.map(_._2).sum == vocab)
  }

  test("length_tail: alpha positive, brute-force Hill agrees per source") {
    val dir = "/root/testdata/sf0.001"
    val lens = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("n_chars").isNotNull && col("n_chars") > 0)
      .select(col("source"), col("n_chars"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySource = lens.groupBy(_._1)
    for (r <- graft.queries.QueriesText.queries("length_tail")(spark, dir).collect()) {
      val (src, k, alpha) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(k == 20 && alpha > 0.0, s"$src: k=$k alpha=$alpha")
      val sorted = bySource(src).sortBy(t => (-t._2, t._3)).map(_._2)
      val xk1 = sorted(20).toDouble
      val bf = 20.0 / sorted.take(20).map(x => math.log(x / xk1)).sum
      assert(math.abs(alpha - bf) < 1e-3, s"$src: alpha $alpha brute $bf")
    }
  }

  test("lang_confusion: cells partition each declared label, shares sum to ~1") {
    val dir = "/root/testdata/sf0.001"
    val perLang = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("lang").isNotNull && col("text").isNotNull)
      .groupBy("lang").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val rows = graft.queries.QueriesText.queries("lang_confusion")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byLang = rows.groupBy(_._1)
    assert(byLang.keySet == perLang.keySet)
    for ((lang, cells) <- byLang) {
      assert(cells.map(_._3).sum == perLang(lang), s"$lang cells must partition the label")
      val shareSum = cells.map(_._4).sum
      assert(math.abs(shareSum - 1.0) < 1e-3, s"$lang shares sum $shareSum")
    }
  }

  test("vocab_coverage: coverage is monotone in k and saturates at 1") {
    val rows = graft.queries.QueriesText.queries("vocab_coverage")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(10L, 100L, 1000L))
    rows.foreach { case (k, nv, sh) =>
      assert(nv <= k && sh > 0.0 && sh <= 1.0)
    }
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq, "coverage must grow with k")
    // the testdata vocabulary is far under 1000 tokens: full coverage
    assert(rows.last._3 == 1.0)
  }

  test("tokenizer_fertility: brute-force chars/token agrees per language") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("text").isNotNull && col("lang").isNotNull)
      .select(col("lang"), length(col("text")).as("nc"),
        TextFns.bpeTokenCount(col("text")).as("nb"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong, r.getLong(2)))
    val byLang = docs.groupBy(_._1)
    for (r <- graft.queries.QueriesText.queries("tokenizer_fertility")(spark, dir).collect()) {
      val (lang, nd, nc, nb, cpt) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      val grp = byLang(lang)
      assert(grp.size == nd && grp.map(_._2).sum == nc && grp.map(_._3).sum == nb)
      val bf = math.floor(nc.toDouble / nb * 1e4 + 0.5) / 1e4
      assert(math.abs(cpt - bf) < 1e-9, s"$lang: $cpt vs $bf")
      assert(cpt > 1.0, s"$lang: a token is at least one char plus separators")
    }
  }
}
