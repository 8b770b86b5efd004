package graft

import graft.queries.Registry
import org.apache.spark.sql.functions._

/** Round-12 operator semantics: the PNG codec's validation discipline,
  * the z-order layout's deterministic file fan-out, the variant-explode
  * row contract, and the Ogg encode-time page guard (ADVICE-r11). The
  * graded hash compares prove Spark==DuckDB; these pin that what both
  * compute is the INTENDED behavior on hand-checked inputs. */
class Round12OpsSpec extends SparkSpec {

  test("decodePng round-trips the synthesized container and verifies the real CRC") {
    import graft.queries.Multimodal
    val row = spark.sql("SELECT 42 AS doc_id, 'hello png' AS text, 137 AS n_chars")
      .select(Multimodal.encodePngPayload(col("text"), col("doc_id"),
        col("n_chars")).as("p"))
      .head()
    val bytes = row.getAs[Array[Byte]](0)
    val m = Multimodal.decodePng(bytes)
    assert(m.width == 138 && m.height == 43) // n_chars%800+1, doc_id%600+1
    assert(m.bitDepth == 8 && m.colorType == 0) // 42 % 3 = 0 -> grayscale
    assert(m.payloadBytes == "hello png".length.toLong)
    // the stored CRC is the real polynomial over the 17 type+data bytes
    val crc = new java.util.zip.CRC32
    crc.update(bytes, 12, 17)
    assert(m.crc == crc.getValue)
    // corrupt one IHDR data byte: the stored CRC no longer matches and
    // the decoder must refuse rather than decode garbage
    val bad = bytes.clone(); bad(17) = (bad(17) ^ 0x01).toByte
    intercept[IllegalArgumentException](Multimodal.decodePng(bad))
    // corrupt the signature: refused before any field parse
    val badSig = bytes.clone(); badSig(0) = 0x00
    intercept[IllegalArgumentException](Multimodal.decodePng(badSig))
  }

  test("fn_zorder_files: the box touches exactly its 4 z-buckets, one physical file each") {
    val r = Registry.byName("fn_zorder_files").build(spark, sf0001).head()
    assert(r.getAs[Long]("n_buckets") == 4L)
    assert(r.getAs[Long]("n_rows") > 0L)
    // The one-PHYSICAL-file-per-bucket layout claim lives here, not in
    // the graded row (ADVICE r12: hash parity must not depend on writer
    // fragmentation): every zb directory of the layout holds exactly one
    // parquet data file.
    val dir = new java.io.File(graft.queries.Fns.zorderDir(sf0001))
    val bucketDirs = dir.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("zb="))
    assert(bucketDirs.nonEmpty, s"no zb= dirs under $dir")
    bucketDirs.foreach { b =>
      val nData = b.listFiles().count(_.getName.endsWith(".parquet"))
      assert(nData == 1, s"${b.getName}: $nData parquet files (expected 1)")
    }
  }

  test("fn_variant_explode emits one row per array position with full doc coverage") {
    val rows = Registry.byName("fn_variant_explode").build(spark, sf0001)
      .collect()
    assert(rows.length == 3, s"expected pos 0..2, got ${rows.length}")
    val nDocs = graft.util.Tables.documents(spark, sf0001).count()
    // every fixture doc has >= 8 tokens, so each position covers all docs
    assert(rows.forall(_.getAs[Long]("n") == nDocs))
    assert(rows.map(_.getAs[Int]("pos")).toSeq == Seq(0, 1, 2))
  }

  test("decodePdf resolves objects through the xref table and verifies every offset") {
    import graft.queries.Multimodal
    val row = spark.sql("SELECT 7 AS doc_id, 'stream data here' AS text")
      .select(Multimodal.encodePdfPayload(col("text"), col("doc_id")).as("p"))
      .head()
    val bytes = row.getAs[Array[Byte]](0)
    val m = Multimodal.decodePdf(bytes)
    assert(m.versionMinor == 5L) // 4 + 7%3
    assert(m.nObjects == 3L)
    assert(m.streamLen == "stream data here".length.toLong)
    // startxref = 93 + digits(n) + n with n = 16
    assert(m.startxref == 93L + 2 + 16)
    assert(m.payloadBytes == bytes.length.toLong)
    // total = startxref + 120 + digits(startxref)
    assert(m.payloadBytes == m.startxref + 120 + m.startxref.toString.length)
    // corrupt an xref offset digit: the table no longer resolves object 1
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val entryAt = s.indexOf("0000000009 00000 n")
    val bad = bytes.clone(); bad(entryAt + 9) = '8'.toByte
    intercept[IllegalArgumentException](Multimodal.decodePdf(bad))
    // truncate the stream by one byte: endstream is no longer /Length
    // bytes after stream, so the length-prefix contract fails loudly
    val streamAt = s.indexOf("stream\n") + 7
    val cut = (bytes.take(streamAt + 15) ++ bytes.drop(streamAt + 16))
    intercept[IllegalArgumentException](Multimodal.decodePdf(cut))
  }

  test("text_gopher_rules census matches a plain-Scala recompute of the published rules") {
    val stops = Set("the", "be", "to", "of", "and", "that", "have", "with")
    val docs = graft.util.Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    var expected = Map("word_count" -> 0L, "mean_word_length" -> 0L,
      "symbol_ratio" -> 0L, "alpha_words" -> 0L, "stopwords" -> 0L,
      "any_rule" -> 0L)
    docs.foreach { text =>
      val w = text.split(" ", -1).filter(_.nonEmpty)
      val n = w.length.toLong
      val sumLen = w.map(_.length.toLong).sum
      val nSym = w.count(t => t.contains("#") || t.contains("...")).toLong
      val nAlpha = w.count(_.exists(_.isLetter)).toLong // fixture is ASCII
      val nStop = w.count(t => stops(t.toLowerCase)).toLong
      val fails = Map(
        "word_count" -> (n < 50 || n > 100000),
        "mean_word_length" -> (sumLen < 3 * n || sumLen > 10 * n),
        "symbol_ratio" -> (10 * nSym > n),
        "alpha_words" -> (5 * nAlpha < 4 * n),
        "stopwords" -> (nStop < 2))
      (fails + ("any_rule" -> fails.values.exists(identity))).foreach {
        case (k, true) => expected = expected.updated(k, expected(k) + 1)
        case _ =>
      }
    }
    val got = Registry.byName("text_gopher_rules").build(spark, sf0001)
      .collect().map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_fail"), r.getAs[Long]("n_docs"))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (rule, nf) =>
      assert(got(rule) == ((nf, docs.length.toLong)),
        s"$rule: got ${got(rule)}, expected ($nf, ${docs.length})")
    }
    // the fixture exercises the rules non-trivially: some docs fail,
    // some pass (a census of all-0s or all-N would grade nothing)
    assert(expected("any_rule") > 0 && expected("any_rule") < docs.length)
  }

  test("ml_tokenizer_fertility totals reconcile with the per-doc encode face") {
    val byLang = Registry.byName("ml_tokenizer_fertility").build(spark, sf0001)
      .collect()
    assert(byLang.nonEmpty)
    byLang.foreach { r =>
      val fert = r.getAs[Double]("fertility")
      val comp = r.getAs[Double]("compression")
      // each word is >= 1 symbol; each symbol is >= 1 char
      assert(fert >= 1.0 && comp >= 1.0,
        s"${r.getAs[String]("lang")}: fertility $fert compression $comp")
    }
    // the per-slice aggregate and the per-doc readout are two groupings
    // of the SAME encode — their symbol totals must agree exactly
    val slices = byLang.map(_.getAs[Long]("n_symbols")).sum
    val docs = Registry.byName("ml_bpe_encode").build(spark, sf0001)
      .agg(sum(col("n_symbols"))).head().getLong(0)
    assert(slices == docs, s"slice total $slices != per-doc total $docs")
  }

  test("ts_holt_trend matches a plain-Scala Holt recursion over the daily series") {
    val daily = graft.util.Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("y"))
      .collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rows) =>
        t -> rows.sortBy(_.getAs[java.sql.Date]("day").toString)
          .map(_.getAs[Double]("y")).toSeq
      }
    val got = Registry.byName("ts_holt_trend").build(spark, sf0001)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(got.keySet == daily.keySet)
    daily.foreach { case (t, ys) =>
      var l = ys.head; var b = 0.0; var sae = 0.0
      ys.tail.foreach { y =>
        sae += math.abs(y - (l + b))
        val lNew = 0.5 * y + 0.5 * (l + b)
        b = 0.5 * (lNew - l) + 0.5 * b
        l = lNew
      }
      val r = got(t)
      assert(r.getAs[Long]("n_days") == ys.length.toLong)
      def rd(x: Double) = BigDecimal(x).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("level") == rd(l), s"$t level")
      assert(r.getAs[Double]("trend") == rd(b), s"$t trend")
      assert(r.getAs[Double]("forecast_next") == rd(l + b), s"$t forecast")
      assert(r.getAs[Double]("mae") == rd(sae / (ys.length - 1)), s"$t mae")
      // the fixture series is long enough that smoothing is non-trivial
      assert(ys.length > 10)
    }
  }

  test("fn_uuid_v3 mints RFC 4122-shaped, injective, java.util.UUID-parseable IDs") {
    val rows = Registry.byName("fn_uuid_v3").build(spark, sf0001).collect()
    val uuids = rows.map(_.getAs[String]("uuid"))
    assert(uuids.length == uuids.distinct.length, "collision over the corpus")
    uuids.foreach { u =>
      val p = java.util.UUID.fromString(u) // throws on malformed
      assert(p.version == 3, s"$u: version ${p.version}")
      assert(p.variant == 2, s"$u: variant ${p.variant}") // RFC 4122 = 2
      assert(u == u.toLowerCase)
    }
    // deterministic: same doc, same namespace -> same id on re-run
    val again = Registry.byName("fn_uuid_v3").build(spark, sf0001)
      .collect().map(_.getAs[String]("uuid"))
    assert(uuids.toSeq == again.toSeq)
  }

  test("ml_pack_greedy matches a plain-Scala greedy fold and beats no packing") {
    val docs = graft.util.Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"),
        least(size(split(col("text"), " ", -1)).cast("long"), lit(512L))
          .as("t"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("t")))
    val expected = docs.groupBy(d => (d._1, d._2 / 64)).toSeq
      .map { case ((src, _), ds) =>
        var bins = 1L; var cur = 0L; var used = 0L
        ds.sortBy(_._2).foreach { case (_, _, t) =>
          if (cur + t <= 512) cur += t else { bins += 1; cur = t }
          used += t
        }
        (src, bins, used)
      }
      .groupBy(_._1)
      .map { case (src, xs) =>
        src -> (xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum)
      }
    val got = Registry.byName("ml_pack_greedy").build(spark, sf0001)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_shards"), r.getAs[Long]("n_bins"),
          r.getAs[Long]("used_tokens"))).toMap
    assert(got == expected)
    // non-degenerate census: bins are non-empty and waste is nonzero
    // (docs don't tile 512 exactly; sources are sparse within global
    // doc-id shards, so fill can legitimately run well under capacity)
    got.values.foreach { case (_, bins, used) =>
      assert(used > 0 && bins > 0)
      assert(used < bins * 512, "zero waste would mean split packing")
    }
    // at least one shard actually packs >1 doc into a bin somewhere:
    // total bins < total docs, else the fold degenerated to 1 doc/bin
    assert(got.values.map(_._2).sum < docs.length)
  }

  test("text_dedup_threshold_sweep: counts are consistent and monotone in tau") {
    val rows = Registry.byName("text_dedup_threshold_sweep")
      .build(spark, sf001).collect().sortBy(_.getAs[Double]("tau"))
    assert(rows.map(_.getAs[Double]("tau")).toSeq == Seq(0.3, 0.5, 0.7))
    val nCand = rows.head.getAs[Long]("n_cand")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cand") == nCand) // candidates don't vary with tau
      assert(r.getAs[Long]("tp") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("tp") <= nCand)
    }
    // tightening the near-dup definition can only shrink the truth set
    // and the matched subset
    val trues = rows.map(_.getAs[Long]("n_true"))
    val tps = rows.map(_.getAs[Long]("tp"))
    assert(trues.zip(trues.tail).forall { case (a, b) => a >= b })
    assert(tps.zip(tps.tail).forall { case (a, b) => a >= b })
    assert(trues.head > 0, "degenerate truth set grades nothing")
  }

  test("stream_tumbling_parity equals ts_tumbling and memoizes the streaming run") {
    val streamed = Registry.byName("stream_tumbling_parity").build(spark, sf0001)
    val batch = Registry.byName("ts_tumbling").build(spark, sf0001)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    // second build serves the memoized frame — no new streaming query
    val before = spark.streams.active.length
    Registry.byName("stream_tumbling_parity").build(spark, sf0001).count()
    assert(spark.streams.active.length == before)
    // and the AvailableNow run itself terminated (no stream left behind)
    assert(!spark.streams.active.exists(q =>
      q.name != null && q.name.startsWith("stream_tumbling_parity")))
  }

  test("stream_file_sink_parity: append sink holds exactly the watermark-closed buckets") {
    val appended = Registry.byName("stream_file_sink_parity").build(spark, sf0001)
    val complete = Registry.byName("stream_tumbling_parity").build(spark, sf0001)
    // append ⊂ complete, and the difference is exactly the buckets whose
    // end the final watermark (max ts − 10 min) has not passed
    assert(appended.except(complete).count() == 0)
    val maxTs = graft.util.Tables.events(spark, sf0001)
      .agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
    val open = complete.except(appended).collect()
    assert(open.nonEmpty, "no open tail bucket — watermark rule untested")
    open.foreach { r =>
      val bucketEnd = r.getAs[java.time.LocalDateTime]("bucket").plusHours(1)
      assert(bucketEnd.isAfter(maxTs.minusMinutes(10)),
        s"closed bucket $r missing from the append sink")
    }
  }

  test("encodeOggPayload refuses a payload that exceeds one page (ADVICE-r11)") {
    import graft.queries.Multimodal
    val ok = spark.sql(s"SELECT 1 AS doc_id, repeat('x', 65024) AS text")
      .select(Multimodal.encodeOggPayload(col("text"), col("doc_id")).as("p"))
    assert(Multimodal.decodeOgg(ok.head().getAs[Array[Byte]](0))
      .payloadBytes == 65024L)
    val over = spark.sql(s"SELECT 1 AS doc_id, repeat('x', 65025) AS text")
      .select(Multimodal.encodeOggPayload(col("text"), col("doc_id")).as("p"))
    val e = intercept[Exception](over.head())
    assert(e.getMessage != null &&
      (e.getMessage.contains("exceeds one Ogg page") ||
        Option(e.getCause).exists(_.getMessage.contains("exceeds one Ogg page"))),
      s"wrong failure: $e")
  }
}
