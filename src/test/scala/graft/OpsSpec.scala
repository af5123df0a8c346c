package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Unit tests for the scalar/relational operator kit over tiny crafted
  * frames — the reference-domain shapes from FIXTURES.md §2.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Tables memo: same analyzed frame per (session, dir, table); dirs distinct") {
    val dir = "/root/testdata/sf0.001"
    val a = Tables(spark, dir).lineitem
    val b = Tables(spark, dir).lineitem
    assert(a eq b) // one listing + footer read + analysis per session
    val c = Tables(spark, "/root/testdata/sf0.01").lineitem
    assert(!(a eq c)) // memo keys on the data dir, not just the table
    assert(a.count() > 0)
    // memo contract (ADVICE r12): both getters ARE the same plan
    // instance, so an intentional self-join must alias its sides —
    // the catalog-correct form — and then resolves fine
    val sj = Tables(spark, dir).nation.alias("l")
      .join(Tables(spark, dir).nation.alias("r"),
        col("l.n_regionkey") === col("r.n_regionkey"))
    assert(sj.count() > 0)
  }

  test("Tables.clear evicts one session's memo entries") {
    val dir = "/root/testdata/sf0.001"
    val before = Tables(spark, dir).region
    Tables.clear(spark)
    val after = Tables(spark, dir).region
    assert(!(before eq after)) // re-read after eviction
    assert(after.count() > 0)
  }

  test("D1: parenthesized description extraction (PROC:156 semantics)") {
    val df = Seq("eth0: uplink (WAN Link) active", "no parens here", "(x)").toDF("name")
    val got = df.select(Scalars.extractParenthesized($"name")).as[String].collect()
    assert(got.toSeq == Seq("WAN Link", "", "x"))
  }

  test("D1: net.if direction extraction (PROC:157 semantics)") {
    val df = Seq("net.if.in[eth0]", "net.if.out[Tunnel1]", "system.cpu.load").toDF("key_")
    val got = df.select(Scalars.extractDirection($"key_")).as[String].collect()
    assert(got.toSeq == Seq("in", "out", ""))
  }

  test("D2/D3: substring_index + dash concat (PROC:158,160)") {
    val df = Seq(("GigabitEthernet0/1: WAN", "fiber", "10.0.0.1", "SiteA")).toDF("name", "tipe", "ip", "remote")
    val row = df.select(
      Scalars.beforeFirst($"name", ":").as("iface"),
      Scalars.dashConcat($"tipe", $"ip", $"remote").as("dk")).head()
    assert(row.getString(0) == "GigabitEthernet0/1")
    assert(row.getString(1) == "fiber - 10.0.0.1 - SiteA")
  }

  test("D4: fixed-position date parts of dd-MM-yyyy HH:mm:ss (XML:143-148)") {
    val df = Seq("28-02-2024 13:45:59").toDF("waktu")
    val parts = Scalars.datePartsOfDmy($"waktu")
    val row = df.select(parts.map { case (n, c) => c.as(n) }: _*).head()
    assert(row.toSeq == Seq("28-02-2024", "2024", "02", "28", "13", "45"))
  }

  test("D7: ctime-like pattern parse (XML:141) under legacy parser") {
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    try {
      val df = Seq("Wed Feb 28 13:45:59 UTC 2024").toDF("s")
      val got = df.select(date_format(
        to_timestamp($"s", "EEE MMM dd HH:mm:ss zzz yyyy"), "yyyy-MM-dd HH:mm:ss"))
        .as[String].head()
      assert(got == "2024-02-28 13:45:59")
    } finally spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
  }

  test("D9: WIB shift is exactly +7h and invertible") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-01-01 20:00:00")).toDF("ts")
    val got = df.select(date_format(Scalars.shiftToWib($"ts"), "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(got == "2024-01-02 03:00:00") // crosses midnight: ds would roll
  }

  test("D10: Decimal(20,0) holds uint64 counters beyond Long range") {
    val big = BigDecimal("18446744073709551615") // uint64 max
    val df = Seq(big).toDF("v")
    val got = df.select(Scalars.asCounter($"v" + 0)).head().getDecimal(0)
    assert(got.toBigInteger.toString == "18446744073709551615")
    assert(df.schema.fields.head.dataType.isInstanceOf[DecimalType])
  }

  test("C2: pivotFullJoin and single-pass pivot agree") {
    val df = Seq(
      ("h1", "in", 10.0), ("h1", "out", 20.0), ("h2", "in", 5.0), ("h3", "out", 7.0)
    ).toDF("host", "direction", "v")
    val fj = Relational.pivotFullJoin(df, Seq("host"), "direction", "in", "out", "v", "v_in", "v_out")
      .orderBy("host").collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    val sp = Relational.pivotSinglePass(df, Seq("host"), "direction", Seq("in", "out"), col("v"), sum)
      .orderBy("host").collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    assert(fj.toSeq == sp.toSeq)
    assert(fj.length == 3) // h2 and h3 survive with one side null
  }

  test("C5: anti join returns non-matching rows (crafted non-empty case)") {
    val l = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "x")
    val r = Seq(2).toDF("id")
    val got = Relational.antiJoin(l, r, l("id") === r("id")).as[(Int, String)].collect()
    assert(got.toSet == Set((1, "a"), (3, "c")))
  }

  test("asof backward join: latest right <= left time, equal-ts matches, null when none") {
    val clicks = Seq((1L, 100L, 1000L), (1L, 101L, 2000L), (2L, 102L, 500L))
      .toDF("user_id", "event_id", "ts_ns")
    val purchases = Seq((1L, 900L, 9.0, 1000L), (1L, 901L, 11.0, 1500L))
      .toDF("user_id", "p_event_id", "p_value", "ts_ns")
    val got = AsOf.asofBackward(clicks, purchases, "user_id", "ts_ns", "ts_ns",
      Map("p_event_id" -> "pe", "p_value" -> "pv"))
      .select("event_id", "pe").as[(Long, Option[Long])].collect().toMap
    assert(got(100L).contains(900L)) // equal timestamp matches
    assert(got(101L).contains(901L)) // latest of the two
    assert(got(102L).isEmpty)        // user 2 has no purchase
  }

  test("asof forward join: earliest right >= left time, (ts, tie) deterministic, null when none") {
    val clicks = Seq((1L, 100L, 1000L), (1L, 101L, 2000L), (2L, 102L, 500L))
      .toDF("user_id", "event_id", "ts_ns")
    val purchases = Seq(
      (1L, 902L, 7.0, 1500L), (1L, 901L, 9.0, 1500L), // equal ts: min event_id wins
      (1L, 903L, 11.0, 900L))                          // before every click: never forward-matched
      .toDF("user_id", "p_event_id", "p_value", "ts_ns")
    val got = AsOf.asofForward(clicks, purchases, "user_id", "ts_ns", "ts_ns", "p_event_id",
      Map("p_event_id" -> "pe", "p_value" -> "pv"))
      .select("event_id", "pe").as[(Long, Option[Long])].collect().toMap
    assert(got(100L).contains(901L)) // earliest at-or-after 1000 is ts=1500; tie -> min id
    assert(got(101L).isEmpty)        // no purchase at-or-after 2000
    assert(got(102L).isEmpty)        // user 2 has none
  }

  test("TopKValuesAggregator: multiset semantics, partition-merge exact") {
    import graft.ops.Aggregates
    val df = (Seq.fill(3)(9.0) ++ Seq(7.0, 8.0, 1.0, 2.0)).zipWithIndex
      .map { case (v, i) => (i % 4, v) }
      .toDF("g", "v").repartition(4) // force multi-partition merges
    val got = df.groupBy($"g").agg(Aggregates.topKValues($"v", 2).as("topk"))
      .select($"topk").as[Seq[Double]].collect()
    got.foreach(s => assert(s.length <= 2 && s == s.sorted.reverse))
    val all = df.agg(Aggregates.topKValues($"v", 3).as("topk"))
      .select($"topk").as[Seq[Double]].head()
    assert(all == Seq(9.0, 9.0, 9.0)) // duplicates kept (multiset top-k)
  }

  test("similarity: cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b", "c")
    val row = df.select(Similarity.cosine($"a", $"b"), Similarity.cosine($"a", $"c")).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(row.getDouble(1)) < 1e-12)
  }

  test("E5: CentroidAggregator merges partitions to exact element means") {
    import org.apache.spark.sql.functions.udaf
    val vecs: Seq[Seq[Float]] = Seq(Seq(1f, 2f), Seq(3f, 6f), Seq(5f, 10f))
    val ds = spark.createDataset(vecs).repartition(3) // force multi-partition merge
    val agg = udaf(new Similarity.CentroidAggregator(2))
    val got = ds.toDF("v").agg(agg($"v")).head().getSeq[Double](0)
    assert(got == Seq(3.0, 6.0))
  }

  test("multimodal: batched partition decode is deterministic and complete") {
    import Multimodal._
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "abc".getBytes), MediaRecord(2L, "defg".getBytes)))
    val got = decodePartitions(ds, batchSize = 1).collect().sortBy(_.media_id)
    assert(got.map(_.byte_len).toSeq == Seq(3L, 4L))
    assert(got.forall(m => m.width >= 1 && m.width <= 1920 && m.height >= 1 && m.height <= 1080))
    val again = decodePartitions(ds, batchSize = 64).collect().sortBy(_.media_id)
    assert(got.toSeq == again.toSeq) // batch size cannot change results
  }

  test("multimodal: REAL BMP/WAV header parse on actual header bytes; stub only for opaque formats") {
    import Multimodal._
    def le(buf: Array[Byte], off: Int, v: Long, n: Int): Unit =
      (0 until n).foreach(i => buf(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    def tag(buf: Array[Byte], off: Int, s: String): Unit =
      (0 until 4).foreach(i => buf(off + i) = s.charAt(i).toByte)

    // 54-byte BMP header, 640x480, height stored NEGATIVE (top-down)
    val bmp = new Array[Byte](54)
    bmp(0) = 'B'; bmp(1) = 'M'
    le(bmp, 14, 40, 4) // BITMAPINFOHEADER size
    le(bmp, 18, 640, 4)
    le(bmp, 22, -480 & 0xffffffffL, 4)
    assert(Headers.parseBmp(bmp).contains((640, 480)))

    // canonical 44-byte WAV header: PCM stereo 44.1 kHz 16-bit
    val wav = new Array[Byte](44)
    tag(wav, 0, "RIFF"); le(wav, 4, 36 + 88200, 4); tag(wav, 8, "WAVE")
    tag(wav, 12, "fmt "); le(wav, 16, 16, 4); le(wav, 20, 1, 2)
    le(wav, 22, 2, 2); le(wav, 24, 44100, 4); le(wav, 28, 176400, 4)
    le(wav, 32, 4, 2); le(wav, 34, 16, 2)
    tag(wav, 36, "data"); le(wav, 40, 88200, 4)
    assert(Headers.parseWav(wav).contains(Headers.WavMeta(2, 44100, 16, 88200L)))

    // non-canonical chunk order: a LIST chunk before fmt must not break the walk
    val listed = new Array[Byte](12 + 8 + 6 + 24 + 8)
    tag(listed, 0, "RIFF"); le(listed, 4, listed.length - 8, 4); tag(listed, 8, "WAVE")
    tag(listed, 12, "LIST"); le(listed, 16, 6, 4) // odd-ish payload, word-aligned walk
    val fmtOff = 12 + 8 + 6 // 6 is even, no pad
    tag(listed, fmtOff, "fmt "); le(listed, fmtOff + 4, 16, 4); le(listed, fmtOff + 8, 1, 2)
    le(listed, fmtOff + 10, 1, 2); le(listed, fmtOff + 12, 16000, 4)
    le(listed, fmtOff + 22, 8, 2)
    assert(Headers.parseWav(listed).map(m => (m.channels, m.sampleRateHz, m.bitsPerSample))
      .contains((1, 16000, 8)))

    // end-to-end through the batched decode: BMP rows get REAL dims,
    // opaque rows still get the deterministic stub
    val ds = spark.createDataset(Seq(MediaRecord(1L, bmp), MediaRecord(2L, "opaque".getBytes)))
    val metas = decodePartitions(ds).collect().sortBy(_.media_id)
    assert((metas(0).width, metas(0).height) == (640, 480))
    assert((metas(1).width, metas(1).height) == DecoderStub.decode("opaque".getBytes))

    // junk that starts like a container but truncates must not throw
    assert(Headers.parseBmp("BM".getBytes).isEmpty)
    assert(Headers.parseWav("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  test("multimodal: PNG IHDR parse and real 16-bit PCM RMS decode") {
    import Multimodal.Headers
    // PNG: signature + IHDR length + "IHDR" + 640x360 big-endian
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0x68).map(_.toByte)
    assert(Headers.parsePng(png).contains((640, 360)))
    assert(Headers.parsePng("nope".getBytes).isEmpty)
    // 16-bit PCM WAV with samples [3, -4]: RMS = sqrt((9+16)/2)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val wav = "RIFF".getBytes ++ le32(40) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(4) ++ le16(3) ++ le16(-4 & 0xffff)
    val rms = Headers.wavRms16(wav).get
    assert(math.abs(rms - math.sqrt(12.5)) < 1e-12)
    assert(Headers.wavRms16("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  test("audio frame energies: exact per-frame sums, partial tail dropped") {
    import spark.implicits._
    import Multimodal.{AudioFrame, MediaRecord}
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // 5 samples [1,-2,3,-4,5]: frames of 2 -> (1+4), (9+16); the 5th
    // sample is a partial frame and must be dropped
    val samples = Seq(1, -2, 3, -4, 5)
    val wav = "RIFF".getBytes ++ le32(36 + 2 * samples.size) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(2 * samples.size) ++
      samples.flatMap(v => le16(v & 0xffff)).toArray
    val ds = Seq(MediaRecord(7L, wav), MediaRecord(8L, "notawav".getBytes)).toDS()
    val got = Multimodal.audioFrameEnergies(ds, frameSamples = 2).collect().toSet
    assert(got == Set(AudioFrame(7L, 0, 5L), AudioFrame(7L, 1, 25L)))
  }

  test("corpus shuffle: banded rank is an exact permutation in key order") {
    import spark.implicits._
    val df = spark.range(0, 1000).toDF("id")
    val got = Text.corpusShuffle(df, "id", "s1")
      .select("id", "shuffle_key", "shuffle_rank")
      .as[(Long, String, Long)].collect()
    assert(got.map(_._3).sorted.toSeq == (1L to 1000L)) // permutation, no gaps
    // rank order must equal global (key, id) lexicographic order
    val byRank = got.sortBy(_._3).map(r => (r._2, r._1)).toSeq
    assert(byRank == byRank.sorted)
    // seeded: a different seed is a different permutation
    val other = Text.corpusShuffle(df, "id", "s2")
      .select("id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(got.exists(r => other(r._1) != r._3))
  }

  test("curriculum order: permutation, difficulty-monotone, shuffled within band") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val df = spark.range(0, 500).toDF("id")
      .withColumn("difficulty", expr("id DIV 100"))
    val got = Text.curriculumOrder(df, "id", col("difficulty"), "c1")
      .select("id", "difficulty", "curriculum_rank")
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._3).sorted.toSeq == (1L to 500L)) // permutation, no gaps
    val byRank = got.sortBy(_._3)
    assert(byRank.map(_._2).toSeq == byRank.map(_._2).sorted.toSeq) // easy -> hard
    // each band holds exactly its documents, internally md5-shuffled
    val band0 = byRank.filter(_._2 == 0L).map(_._1)
    assert(band0.toSet == (0L until 100L).toSet)
    assert(band0.toSeq != band0.sorted.toSeq)
    // deterministic: same seed reproduces the exact ordering
    val again = Text.curriculumOrder(df, "id", col("difficulty"), "c1")
      .select("id", "curriculum_rank").as[(Long, Long)].collect().toMap
    assert(got.forall(r => again(r._1) == r._3))
  }

  test("exact heavy hitters equal the naive group-by over a skewed stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // zipf-ish: key k repeats 600/k times -> a handful of frequent keys
    // over a wide tail
    val rows = (1 to 200).flatMap(k => Seq.fill(600 / k)(s"k$k")).toDF("t")
    val got = Text.exactHeavyHitters(rows, col("t"), 50)
      .as[(String, Long)].collect().toMap
    val naive = rows.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = naive.values.sum
    val expected = naive.filter { case (_, n) => n * 50 >= total }
    assert(got == expected)
    assert(got.nonEmpty && got.size < naive.size) // the tail was pruned
  }

  test("pii redaction hits emails, phones, IPs; leaves near-misses alone") {
    import spark.implicits._
    val rows = Seq(
      "write bob.smith+x@mail.example.org now",
      "call 555-0199-1234 or visit 192.168.1.17 today",
      "v1.2 costs $3.4 at 5pm, no pii here").toDF("t")
    val got = rows.select(Text.redactPii(col("t")).as("r")).as[String].collect()
    assert(got(0) == "write <EMAIL> now")
    assert(got(1) == "call <PHONE> or visit <IP> today")
    assert(got(2) == "v1.2 costs $3.4 at 5pm, no pii here")
  }

  test("chunking: stride windows, short tail kept, tiny doc is one chunk") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g"), (2L, "x")).toDF("doc_id", "text")
    val got = Text.chunk(df, "text", "doc_id", chunkSize = 3, stride = 2)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 0L, "a b c"), (1L, 1L, "c d e"), (1L, 2L, "e f g"), (1L, 3L, "g"),
      (2L, 0L, "x")))
  }

  test("cosine LSH: duplicates share buckets, negation flips every sign bit") {
    import spark.implicits._
    val v = (1 to 64).map(i => (if (i % 3 == 0) -1.0f else 1.0f) * i / 64.0f)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("vec_id", "embedding")
    val got = df.select($"vec_id",
        Similarity.cosineLshBucket($"embedding", 8, 64).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))        // identical vectors: same bucket
    assert(got(3L) == (~got(1L) & 0xffL)) // negation: all 8 sign bits flip
  }

  test("int8 quantize: max maps to ±127, dequantize error within half step") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5f, -1.0f, 0.25f)), (2L, Seq(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "embedding", "vec_id")
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (id, sc, q) => id -> ((sc, q)) }.toMap
    val (s1, q1) = got(1L)
    assert(q1 == Seq(64, -127, 32)) // floor(0.5*127+0.5)=64, exact -127, floor(.25*127+.5)=32
    Seq(0.5, -1.0, 0.25).zip(q1).foreach { case (orig, q) =>
      assert(math.abs(q * s1 - orig) <= s1 / 2 + 1e-12)
    }
    assert(got(2L) == ((0.0, Seq(0, 0, 0)))) // zero vector: no NaN division
  }

  test("morton code interleaves bits: known values, and range-locality holds") {
    import spark.implicits._
    val got = Seq((3L, 1L), (0L, 0L), (65535L, 0L), (0L, 65535L), (5L, 5L))
      .toDF("a", "b")
      .select(Scalars.mortonCode(col("a"), col("b")).as("z")).as[Long].collect()
    assert(got(0) == 7L)           // a=11b -> pos 0,2 (5); b=1b -> pos 1 (2)
    assert(got(1) == 0L)
    assert(got(2) == 0x55555555L)  // all even bit positions
    assert(got(3) == 0xAAAAAAAAL)  // all odd bit positions
    assert(got(4) == 51L)          // 5=101b interleaved with itself: 110011b
  }

  test("mixture sample: rare strata keep all, dominant downsamples toward budget") {
    import spark.implicits._
    // 'big' has 100k tokens, 'rare' 1k; budget 20k: rare keeps 100%
    // (its sqrt-share allocation exceeds its size), big downsamples.
    val df = (0 until 1000).map(i => (i.toLong, "big", 100L)) ++
      (1000 until 1010).map(i => (i.toLong, "rare", 100L))
    val got = Text.mixtureSample(df.toDF("id", "s", "toks"), "id", "s", "toks", 20000L)
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(got("rare") == 10L)
    assert(got("big") < 400L && got("big") > 100L) // ~19k/100k of 1000 docs
    val again = Text.mixtureSample(df.toDF("id", "s", "toks"), "id", "s", "toks", 20000L).count()
    assert(again == got.values.sum) // deterministic
  }

  test("multimodal: JPEG SOF marker walk finds dimensions past APP/DQT segments") {
    import Multimodal.Headers
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // SOI, APP0 (JFIF), a DQT segment, then SOF0 with 240x320
    val jpeg = Array(0xff, 0xd8).map(_.toByte) ++
      Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++
      "JFIF ".getBytes ++ new Array[Byte](9) ++
      Array(0xff, 0xdb).map(_.toByte) ++ be16(5) ++ new Array[Byte](3) ++
      Array(0xff, 0xc0).map(_.toByte) ++ be16(17) ++
      Array(8.toByte) ++ be16(240) ++ be16(320) ++ new Array[Byte](10)
    assert(Headers.parseJpeg(jpeg).contains((320, 240)))
    // progressive SOF2 is a frame header too (SOF segment = 2 marker +
    // 17 length bytes at the tail; flip the marker byte)
    val sof2 = jpeg.clone(); sof2(jpeg.length - 19 + 1) = 0xc2.toByte
    assert(Headers.parseJpeg(sof2).contains((320, 240)))
    // DHT (0xc4) must NOT be mistaken for a frame header
    val dht = Array(0xff, 0xd8, 0xff, 0xc4).map(_.toByte) ++ be16(5) ++
      new Array[Byte](3) ++ Array(0xff, 0xd9).map(_.toByte)
    assert(Headers.parseJpeg(dht).isEmpty)
    // scan data before any SOF, truncation, and non-JPEG bytes give up cleanly
    assert(Headers.parseJpeg(Array(0xff, 0xd8, 0xff, 0xda).map(_.toByte) ++ be16(4)).isEmpty)
    assert(Headers.parseJpeg(Array(0xff, 0xd8, 0xff, 0xc0).map(_.toByte) ++ be16(200)).isEmpty)
    assert(Headers.parseJpeg("not a jpeg".getBytes).isEmpty)
  }

  test("native top-k per group: ties, short groups, null keys across partitions") {
    import spark.implicits._
    // (group, id, score): group a has 4 rows with a score tie broken by
    // id; group b is shorter than k; one row's group is null
    val df = Seq(
      (Option("a"), 1L, 10.0), (Option("a"), 2L, 10.0),
      (Option("a"), 3L, 7.0), (Option("a"), 4L, 12.0),
      (Option("b"), 5L, 1.0),
      (Option.empty[String], 6L, 99.0)
    ).toDF("g", "id", "score").repartition(5) // force cross-partition merge
    val got = graft.plans.NativeOps.topKPerGroup(df, Seq("g"),
      Seq(("score", false), ("id", true)), 2)
      .as[(Option[String], Long, Double)].collect().toSet
    assert(got == Set(
      (Some("a"), 4L, 12.0), (Some("a"), 1L, 10.0), // tie on 10.0 -> lower id wins
      (Some("b"), 5L, 1.0),                         // group smaller than k intact
      (None, 6L, 99.0)))                            // null key is its own group
  }

  test("stratified sample keeps rate-proportional strata, deterministically") {
    import spark.implicits._
    val df = spark.range(0, 2000)
      .select(col("id"), (when(col("id") % 2 === 0, "en").otherwise("zz")).as("lang"))
    val kept = Text.stratifiedSample(df, "id", "lang", Map("en" -> 40), 100)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("zz") == 1000L) // default 100% keeps everything
    assert(kept("en") > 300L && kept("en") < 500L) // ~40% of 1000
    val again = Text.stratifiedSample(df, "id", "lang", Map("en" -> 40), 100).count()
    assert(again == kept.values.sum) // no RNG: identical on re-run
  }

  test("canon expression: NFC + accent fold + casefold, composed == decomposed") {
    import spark.implicits._
    val composed = "Héllo" // precomposed U+00E9
    val decomposed = "Héllo"           // e + combining acute
    val rows = Seq((1L, composed), (2L, decomposed), (3L, "STRASSE ß Ñoño"), (4L, "plain"))
      .toDF("id", "s")
      .select($"id", graft.expressions.NormalizeExpressions.canon($"s").as("c"))
      .as[(Long, String)].collect().toMap
    assert(rows(1L) == "hello")
    assert(rows(2L) == "hello")      // byte-distinct spellings converge
    assert(rows(1L) == rows(2L))
    assert(rows(3L) == "strasse ß ñoño".replace("ñ", "n")) // marks stripped, ß kept
    assert(rows(4L) == "plain")
  }

  test("within-edit-1 predicate matches full Levenshtein on boundary cases") {
    import spark.implicits._
    val cases = Seq(
      ("abc", "abc"), ("abc", "abd"), ("abc", "xbc"), ("abc", "ab"),
      ("abc", "abcd"), ("abc", "zabc"), ("abc", "acb"), ("abc", "a"),
      ("", ""), ("", "x"), ("", "xy"), ("ab", "ba"), ("aaa", "aba"),
      ("kitten", "sitting"), ("abcd", "abdc"))
    val got = cases.toDF("a", "b")
      .select(graft.expressions.NormalizeExpressions.withinEdit1($"a", $"b").as("w"),
        levenshtein($"a", $"b").as("d"))
      .as[(Boolean, Int)].collect()
    got.foreach { case (w, d) => assert(w == (d <= 1), s"within1=$w but lev=$d") }
  }

  test("FastSS fuzzy linkage finds exactly the edit-distance<=1 pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, "kitten"), (2L, "mitten"),   // substitution
      (3L, "kittens"),                  // insertion vs 1
      (4L, "kitte"),                    // deletion vs 1
      (5L, "sitting"),                  // dist 2 from nothing here
      (6L, "mitten")                    // exact duplicate of 2
    ).toDF("id", "name")
    val got = graft.ops.Relational.fuzzyLinkageD1(df, "name", "id")
      .select($"id_a", $"id_b", $"dist")
      .as[(Long, Long, Int)].collect().toSet
    // ground truth from the naive quadratic form
    val names = Map(1L -> "kitten", 2L -> "mitten", 3L -> "kittens",
      4L -> "kitte", 5L -> "sitting", 6L -> "mitten")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- names.keys; b <- names.keys if a < b
      dist = lev(names(a), names(b)) if dist <= 1
    } yield (a, b, dist)).toSet
    assert(got == want, s"got=$got want=$want")
    assert(want.contains((2L, 6L, 0)) && want.contains((1L, 2L, 1)) &&
      want.contains((1L, 3L, 1)) && want.contains((1L, 4L, 1)))
  }

  test("FastSS contracted path (dup-heavy corpus) matches the naive quadratic form") {
    import spark.implicits._
    // 3 hot strings x 8 copies + 2 singletons: pair mass 3*28=84 >>
    // n/10 = 2.6, so the exact-class contraction engages (the direct
    // path covers the spec above; sf-data corpora never trip the
    // switch, so this fixture is the contracted path's only gate).
    val rows = (for {
      (name, base) <- Seq(("kitten", 100L), ("mitten", 200L), ("kittes", 300L))
      i <- 0 until 8
    } yield (base + i, name)) ++ Seq((400L, "sitting"), (401L, "kitte"))
    val df = rows.toDF("id", "name")
    val got = graft.ops.Relational.fuzzyLinkageD1(df, "name", "id")
      .select($"id_a", $"id_b", $"s_a", $"s_b", $"dist")
      .as[(Long, Long, String, String, Int)].collect().toSet
    val names = rows.toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- names.keys; b <- names.keys if a < b
      dist = lev(names(a), names(b)) if dist <= 1
    } yield (a, b, names(a), names(b), dist)).toSet
    assert(got == want,
      s"contracted path diverged: missing=${want -- got} extra=${got -- want}")
    // both intra-class (dist 0) and cross-class (dist 1) mass present
    assert(got.count(_._5 == 0) == 3 * 28 && got.exists(_._5 == 1))
  }

  test("mergeIntervals: a long interval bridges rows lag alone would split") {
    // key 1: [0,100] swallows [10,20] and [30,40]; [90,110] touches the
    // running max (start <= 100) so it extends the SAME island even
    // though its immediate predecessor [30,40] ended 50 earlier — the
    // case where lag(end) is wrong and running max(end) is right.
    // [200,210] opens island 2.
    val iv = Seq(
      (1L, 0L, 100L, 1L), (1L, 10L, 20L, 2L), (1L, 30L, 40L, 3L),
      (1L, 90L, 110L, 4L), (1L, 200L, 210L, 5L),
      (2L, 0L, 5L, 6L)).toDF("k", "st", "en", "id")
    val got = Timeseries.mergeIntervals(iv, $"k", $"st", $"en", $"id")
      .groupBy($"k", $"island")
      .agg(count(lit(1)).as("n"), min($"st").as("s"), max($"en").as("e"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 4L, 0L, 110L), (1L, 2L, 1L, 200L, 210L),
      (2L, 1L, 1L, 0L, 5L)))
  }

  test("prorate: shares are integer-exact and sum to each group's amount") {
    // 100 cents over weights 1,1,1 -> 34,33,33 (two remainders tie at
    // 1/3; tie-break id gives the extra cent to the lowest id).
    // 7 cents over weights 2,3 -> base 2,4; leftover 1 goes to w=2
    // (rem 14%5=4 > 21%5=1).
    val df = Seq(
      ("a", 100L, 1L, 1L), ("a", 100L, 1L, 2L), ("a", 100L, 1L, 3L),
      ("b", 7L, 2L, 1L), ("b", 7L, 3L, 2L)).toDF("g", "amount", "w", "id")
    val got = Warehouse.prorate(df, $"g", $"amount", $"w", $"id")
      .select($"g", $"id", $"share").as[(String, Long, Long)]
      .collect().toSet
    assert(got == Set(("a", 1L, 34L), ("a", 2L, 33L), ("a", 3L, 33L),
      ("b", 1L, 3L), ("b", 2L, 4L)))
    // invariant: per-group share sums equal the amount
    val sums = Warehouse.prorate(df, $"g", $"amount", $"w", $"id")
      .groupBy($"g").agg(sum($"share").as("s"), first($"amount").as("a"))
      .select($"s", $"a").as[(Long, Long)].collect()
    assert(sums.forall { case (s, a) => s == a })
  }

  test("bfsLevels: shortest hop distance, depth-bounded, multi-source min") {
    // chain a-b-c-d-e plus shortcut a-d: the shortcut pulls d to level
    // 1 and e to 2 (not the chain's 3/4), and c is reached at 2 via
    // BOTH b and d — the distinct/min road must not double it.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "d"))
      .toDF("src", "dst")
    val src = Seq("a").toDF("node")
    val got = Graph.bfsLevels(edges, src, maxDepth = 2)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "d" -> 1, "c" -> 2, "e" -> 2))
    // the depth bound: at maxDepth=1 the level-2 ring is absent
    val d1 = Graph.bfsLevels(edges, src, maxDepth = 1)
      .as[(String, Int)].collect().toMap
    assert(d1 == Map("a" -> 0, "b" -> 1, "d" -> 1))
  }

  test("shortestPaths: cheap long path beats expensive direct edge; hop bound binds") {
    // a-e direct costs 10; the 4-hop chain a-b-c-d-e costs 4. With 4
    // rounds the chain wins (dist e = 4); with 2 rounds only paths of
    // <= 2 edges exist, so e falls back to the direct 10.
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("d", "e", 1L), ("a", "e", 10L), ("a", "e", 12L)) // dup edge: min wins
      .toDF("src", "dst", "w")
    val src = Seq("a").toDF("node")
    val got = Graph.shortestPaths(edges, src, rounds = 4)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    val bounded = Graph.shortestPaths(edges, src, rounds = 2)
      .as[(String, Long)].collect().toMap
    // <=2-hop world: e via the direct 10, d only via e (10+1)
    assert(bounded == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 11L, "e" -> 10L))
  }

  test("positionBasedAttribution: U-shape weights, degenerate n=1/n=2, window cut") {
    val conv = Seq((1L, 100L, 1000L), (2L, 200L, 1000L), (3L, 300L, 1000L))
      .toDF("user_id", "conv_id", "ct")
    val touches = Seq(
      (1L, 11L, 910L), (1L, 12L, 940L), (1L, 13L, 970L), (1L, 14L, 1000L),
      (1L, 15L, 890L), // outside the 100-tick window -> no credit
      (2L, 21L, 950L), (2L, 22L, 990L),
      (3L, 31L, 980L))
      .toDF("user_id", "touch_id", "tt")
    val got = Warehouse.positionBasedAttribution(conv, touches,
        "user_id", "conv_id", "ct", "touch_id", "tt", 100L)
      .select($"touch_id", $"weight").as[(Long, Double)].collect().toMap
    assert(got == Map(11L -> 0.4, 12L -> 0.1, 13L -> 0.1, 14L -> 0.4,
      21L -> 0.5, 22L -> 0.5, 31L -> 1.0))
  }

  test("triangleCount: K4 plus a pendant edge") {
    // K4 = 4 triangles; pendant d-e adds an edge but no triangle.
    // Duplicate + reversed + self-loop rows must not change the count.
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("e", "d"), ("a", "b"), ("c", "c")).toDF("src", "dst")
    val got = Graph.triangleCount(edges)
      .as[(Long, Long, Long)].collect().head
    assert(got == ((5L, 7L, 4L)))
  }

  test("hits: one-iteration star, hand-computed normalized scores") {
    // a,b,c -> x -> y: x is the authority (in-degree 3), y gets x's
    // single link; a/b/c are equal hubs pointing at the big authority.
    val edges = Seq(("a", "x"), ("b", "x"), ("c", "x"), ("x", "y"))
      .toDF("src", "dst")
    val got = Graph.hits(edges, 1)
      .as[(String, Double, Double)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    val s10 = math.sqrt(10.0) // auth norm: sqrt(3^2 + 1^2)
    val aX = 3.0 / s10; val aY = 1.0 / s10
    val hn = math.sqrt(3 * aX * aX + aY * aY) // hub norm after 1 round
    def close(x: Double, y: Double) = math.abs(x - y) < 1e-12
    assert(close(got("x")._2, aX) && close(got("y")._2, aY))
    assert(got("a")._2 == 0.0 && got("b")._2 == 0.0 && got("c")._2 == 0.0)
    assert(close(got("a")._1, aX / hn) && close(got("b")._1, aX / hn) &&
      close(got("c")._1, aX / hn) && close(got("x")._1, aY / hn))
    assert(got("y")._1 == 0.0)
    // both score vectors leave normalized: sum of squares = 1
    val sumSq = (f: ((Double, Double)) => Double) =>
      got.values.map(v => f(v) * f(v)).sum
    assert(close(sumSq(_._1), 1.0) && close(sumSq(_._2), 1.0))
  }

  test("labelPropagation: two triangles over a bridge, 2 hand-traced rounds") {
    // triangle abc + triangle def + bridge c-d. Round 1 sends every
    // node to its min neighbor; round 2 consolidates abc on 'a' while
    // d keeps the majority 'd' from e/f and e/f tie down to 'c'
    // through the bridge-polluted d — the exact synchronous trace.
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("src", "dst")
    val one = Graph.labelPropagation(edges, 1)
      .as[(String, String)].collect().toMap
    assert(one == Map("a" -> "b", "b" -> "a", "c" -> "a",
      "d" -> "c", "e" -> "d", "f" -> "d"))
    val two = Graph.labelPropagation(edges, 2)
      .as[(String, String)].collect().toMap
    assert(two == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "c", "f" -> "c"))
  }

  test("removeDuplicateSpans: keeper survives, cross-doc and in-doc cuts") {
    val docs = Seq((1L, "x y z a b"), (2L, "q x y z w"),
      (3L, "r r r r"), (4L, "u v")).toDF("doc_id", "text")
    val got = Text.removeDuplicateSpans(docs, "text", "doc_id", 3)
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, t, w, r) => id -> ((t, w, r)) }.toMap
    // doc 1 holds the canonical "x y z" (min (doc,pos)) -> untouched;
    // doc 2 loses positions 2-4; doc 3's self-repeat keeps only the
    // first word; doc 4 is span-free.
    assert(got(1L) == (("x y z a b", 5L, 0L)))
    assert(got(2L) == (("q w", 5L, 3L)))
    assert(got(3L) == (("r", 4L, 3L)))
    assert(got(4L) == (("u v", 2L, 0L)))
  }

  test("kCore: cascading peel reaches the 2-core; round bound binds") {
    // K3 (a,b,c) with a tail c-d-e: e has degree 1, peeling it drops d
    // to 1, so the 2-core is exactly the triangle — but only after TWO
    // rounds (the cascade). rounds=1 keeps d — with within-core degree
    // 1, since e's edge is already gone.
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val core = Graph.kCore(edges, k = 2, rounds = 5)
      .as[(String, Long)].collect().toMap
    assert(core == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    val one = Graph.kCore(edges, k = 2, rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
    // k above the max degree empties the graph
    assert(Graph.kCore(edges, k = 4, rounds = 3).isEmpty)
  }

  test("bitmapWords/bitmapDistinct: exact across bucket boundaries and merges") {
    // ids straddle the 64-wide bucket boundary (63, 64) and repeat
    // across rows/keys; words from two "batches" OR-merge to the same
    // exact count a direct pass gives.
    val ev = Seq(("a", 0L), ("a", 63L), ("a", 64L), ("a", 63L),
      ("b", 1L), ("b", 1L), ("b", 130L)).toDF("k", "id")
    val words = Aggregates.bitmapWords(ev, Seq("k"), "id")
    val got = Aggregates.bitmapDistinct(words, Seq("k"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 2L))
    // mergeability: split the rows into two batches, OR the word
    // states, recount — identical (the incremental serving path).
    val b1 = Aggregates.bitmapWords(ev.limit(3), Seq("k"), "id")
    val b2 = Aggregates.bitmapWords(ev.exceptAll(ev.limit(3)), Seq("k"), "id")
    val merged = b1.unionAll(b2).groupBy($"k", $"bucket")
      .agg(expr("bit_or(word)").as("word"))
    val got2 = Aggregates.bitmapDistinct(merged, Seq("k"))
      .as[(String, Long)].collect().toMap
    assert(got2 == got)
    // a RAW union of batch word tables (duplicate (k, bucket) rows,
    // NOT pre-merged) must also count exactly: bitmapDistinct folds
    // the bit_or merge in, so overlapping day tables don't overcount.
    val got3 = Aggregates.bitmapDistinct(b1.unionAll(b2), Seq("k"))
      .as[(String, Long)].collect().toMap
    assert(got3 == got)
  }

  test("wav decode: hostile negative chunk/data sizes degrade to None") {
    import Multimodal.Headers
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def wav(dataSize: Int, fmtSize: Int = 16) =
      "RIFF".getBytes ++ le32(40) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(fmtSize) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16) ++
        "data".getBytes ++ le32(dataSize) ++ le16(3) ++ le16(-4 & 0xffff)
    // negative 32-bit data size: must not allocate a negative array —
    // the whole payload is treated as corrupt per the None contract
    assert(Headers.wavSamples16(wav(dataSize = -8)).isEmpty)
    assert(Headers.wavRms16(wav(dataSize = -8)).isEmpty)
    // negative intermediate chunk size: must not walk backwards/loop
    assert(Headers.wavSamples16(wav(dataSize = 4, fmtSize = -32)).isEmpty)
    // sane payload still decodes through the guarded path
    assert(Headers.wavSamples16(wav(dataSize = 4)).exists(_.sameElements(
      Array(3.toShort, (-4).toShort))))
  }

  test("medianTimes2: exact doubled medians, odd/even counts, dup values") {
    val df = Seq(("a", 1L), ("a", 3L), ("a", 7L), // odd: med 3 -> med2 6
      ("b", 2L), ("b", 2L), ("b", 4L), ("b", 10L), // even: (2+4) = 6
      ("c", 5L)).toDF("k", "v") // singleton: 5+5 = 10
    val got = Aggregates.medianTimes2(df, Seq("k"), "v")
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 6L, "b" -> 6L, "c" -> 10L))
  }

  test("maxGroupWidth guard: passes under limit, fails fast over it") {
    val df = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("k", "v")
    assert(Guard.maxGroupWidth(df, Seq("k"), 2L).count() == 3L)
    val e = intercept[Exception] {
      Guard.maxGroupWidth(df, Seq("k"), 1L).count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).map(c => Option(c.getMessage).getOrElse(""))
        .exists(m => m.contains("group width exceeds 1") && m.contains("(a)")))
  }

  test("acf: hand-computed lag-1/2 values; gapped bucket drops its pairs") {
    // series k=[1,2,3,4] at t=1..4: mu=2.5, Sxx=5.0,
    // Sxy(1)=1.25 -> r1=0.25; Sxy(2)=(3-2.5)(1-2.5)+(4-2.5)(2-2.5)=-1.5 -> r2=-0.3
    val s = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L), ("k", 4L, 4L))
      .toDF("g", "t", "v")
    val got = Timeseries.acf(s, "g", "t", "v", 2)
      .as[(String, Long, Double)].collect()
      .map { case (_, l, a) => l -> a }.toMap
    assert(math.abs(got(1L) - 0.25) < 1e-15 && math.abs(got(2L) + 0.3) < 1e-15)
    // remove t=2: lag-1 pairs are only (4,3) and... (3,2)/(2,1) gone ->
    // arithmetic lag sees the GAP (row-lag would silently bridge it)
    val gapped = s.filter($"t" =!= 2L)
    val g2 = Timeseries.acf(gapped, "g", "t", "v", 1)
      .as[(String, Long, Double)].collect()
    // pairs at lag 1: only (4,3); mu=8/3, Sxx=(1-8/3)^2+(3-8/3)^2+(4-8/3)^2
    val mu = 8.0 / 3
    val sxx = (1 - mu) * (1 - mu) + (3 - mu) * (3 - mu) + (4 - mu) * (4 - mu)
    assert(g2.length == 1 &&
      math.abs(g2.head._3 - (4 - mu) * (3 - mu) / sxx) < 1e-12)
  }

  test("bipartiteJaccardTopK: hand-computed jaccard, ranks, fanout guard") {
    // attrs: s1={p1,p2,p3}, s2={p2,p3}, s3={p3,p4}: J(1,2)=2/3,
    // J(1,3)=1/4, J(2,3)=1/3; duplicate (node,attr) rows collapse
    val rel = Seq((1L, "p1"), (1L, "p2"), (1L, "p3"), (1L, "p3"),
      (2L, "p2"), (2L, "p3"), (3L, "p3"), (3L, "p4")).toDF("n", "p")
    val got = Graph.bipartiteJaccardTopK(rel, "n", "p", k = 1, 10L)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 2L, 2.0 / 3)) && got(2L) == ((1L, 2L, 2.0 / 3)))
    assert(got(3L) == ((2L, 1L, 1.0 / 3))) // beats J(1,3)=0.25
    val e = intercept[Exception] {
      Graph.bipartiteJaccardTopK(rel, "n", "p", 1, 2L).count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).map(c => Option(c.getMessage).getOrElse(""))
      .exists(_.contains("group width exceeds 2"))) // p3 has fanout 3
  }

  test("personalizedPageRank: hand-computed 1-iteration star from one seed") {
    // undirected star a-b, a-c; seed {a}: after 1 round
    // pr(a) = 0.15 (teleport only), pr(b) = pr(c) = 0.85 * 0.5
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val src = Seq("a").toDF("node")
    val got = Graph.personalizedPageRank(edges, src, 1)
      .as[(String, Double)].collect().toMap
    assert(math.abs(got("a") - 0.15) < 1e-15)
    assert(math.abs(got("b") - 0.425) < 1e-15 &&
      math.abs(got("c") - 0.425) < 1e-15)
    assert(math.abs(got.values.sum - 1.0) < 1e-12) // no dangling: mass conserved
  }

  test("kmeansStep: hand-computed means, wcss, shift on two 2-D clusters") {
    // c0=(0,0), c1=(10,10); members: c0 <- (0,0),(0,2); c1 <- (10,10),(10,8)
    // new means (0,1)/(10,9): shift2 = 1.0 each; wcss = 0+4 = 4 each
    val pts = Seq((0L, Seq(0f, 0f)), (1L, Seq(0f, 2f)),
      (2L, Seq(10f, 10f)), (3L, Seq(10f, 8f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)))
      .toDF("cid", "cvec")
    val got = Similarity.kmeansStep(pts, "embedding", "vec_id",
        cents, "cvec", "cid")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) == ((2L, 4.0, 1.0)) && got(1L) == ((2L, 4.0, 1.0)))
  }

  test("kmeansTrain: converges to the true 2-D cluster means; empty cluster keeps coords") {
    // true clusters around (0,1) and (10,9); a bad seed (5,5) captures
    // nothing after round 1 and must keep its coordinates with n=0.
    val pts = Seq((0L, Seq(0f, 0f)), (1L, Seq(0f, 2f)),
      (2L, Seq(10f, 10f)), (3L, Seq(10f, 8f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)), (2L, Seq(99f, 99f)))
      .toDF("cid", "cvec")
    val got = Similarity.kmeansTrain(pts, "embedding", "vec_id",
        cents, "cvec", "cid", iterations = 3)
      .as[(Long, Seq[Float], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) == ((Seq(0f, 1f), 2L)))
    assert(got(1L) == ((Seq(10f, 9f), 2L)))
    assert(got(2L) == ((Seq(99f, 99f), 0L))) // empty: unchanged, n=0
  }

  test("ngramNovelty: first doc fully novel, exact dup fully stale") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c x y"))
      .toDF("doc_id", "text")
    val got = Text.ngramNovelty(docs, "text", "doc_id", 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, 1.0))) // 3 distinct shingles, all first here
    assert(got(2L) == ((3L, 0L, 0.0))) // exact dup of doc 1: nothing new
    // doc 3: shingles {abc, bcx, cxy}; only abc was seen before
    assert(got(3L) == ((3L, 2L, 2.0 / 3)))
  }

  test("png decode: inflate + all five filter inversions recover the pixels") {
    import Multimodal.Headers
    // encode a known pixel field through a REAL png pipeline: per-row
    // filter y%5 (None/Sub/Up/Average/Paeth), zlib deflate, chunk+CRC
    def encode(w: Int, h: Int, ch: Int, colorType: Int,
        pix: (Int, Int, Int) => Int): Array[Byte] = {
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val crc = new java.util.zip.CRC32()
        crc.update(typ.getBytes("US-ASCII")); crc.update(data)
        java.nio.ByteBuffer.allocate(12 + data.length)
          .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
          .putInt(crc.getValue.toInt).array()
      }
      val raw = new Array[Byte]((w * ch + 1) * h)
      val prev = new Array[Int](w * ch)
      (0 until h).foreach { y =>
        val cur = Array.tabulate(w * ch)(k => pix(y, k / ch, k % ch))
        val ft = y % 5
        raw(y * (w * ch + 1)) = ft.toByte
        (0 until w * ch).foreach { k =>
          val a = if (k >= ch) cur(k - ch) else 0
          val up = prev(k)
          val c = if (k >= ch) prev(k - ch) else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => up
            case 3 => (a + up) >> 1
            case _ =>
              val p = a + up - c
              val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
          }
          raw(y * (w * ch + 1) + 1 + k) = ((cur(k) - pred) & 0xff).toByte
        }
        System.arraycopy(cur, 0, prev, 0, w * ch)
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](raw.length + 64)
      val zlen = defl.deflate(buf); defl.end()
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr))
      out.write(chunk("IDAT", buf.take(zlen)))
      out.write(chunk("IEND", Array.empty[Byte]))
      out.toByteArray
    }
    def field(y: Int, x: Int, c: Int): Int = (y * 31 + x * 7 + c * 3) % 256
    // RGB: 7 rows so every filter type appears at least once
    val rgb = encode(9, 7, 3, 2, field)
    val Some((w, h, px)) = Headers.pngGray(rgb)
    assert(w == 9 && h == 7)
    (0 until 7).foreach(y => (0 until 9).foreach(x =>
      assert(px(y * 9 + x) == field(y, x, 0), s"($x,$y)")))
    // grayscale (1ch) and RGBA (4ch) strides decode too
    assert(Headers.pngGray(encode(6, 6, 1, 0, field)).exists {
      case (_, _, p) => p(3 * 6 + 4) == field(3, 4, 0) })
    assert(Headers.pngGray(encode(6, 6, 4, 6, field)).exists {
      case (_, _, p) => p(5 * 6 + 2) == field(5, 2, 0) })
    // hostile inputs degrade to None: truncated IDAT, bad filter code
    assert(Headers.pngGray(rgb.dropRight(30)).isEmpty)
    val interlaced = encode(4, 4, 3, 2, field)
    interlaced(8 + 8 + 12) = 1 // IHDR interlace byte — Adam7 unsupported
    assert(Headers.pngGray(interlaced).isEmpty)
    // the block hash groups identical pixel content across codecs' files
    assert(Headers.pngBlockHash(rgb) == Headers.pngBlockHash(encode(9, 7, 3, 2, field)))
  }

  test("jpeg decode: DC-exact fixture, restart markers, ImageIO cross-check, hostile inputs") {
    import graft.ops.Multimodal.Headers
    // minimal baseline encoder for DC-only gray images (the
    // q_jpeg_blockhash fixture shape), optionally with restart markers
    def encode(w: Int, h: Int, v: (Int, Int) => Int, restart: Int = 0): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def u8(x: Int): Unit = bos.write(x & 0xff)
      def u16(x: Int): Unit = { u8(x >> 8); u8(x) }
      def marker(m: Int): Unit = { u8(0xff); u8(m) }
      marker(0xd8)
      marker(0xdb); u16(2 + 65); u8(0x00); (0 until 64).foreach(_ => u8(8))
      if (restart > 0) { marker(0xdd); u16(4); u16(restart) }
      marker(0xc0); u16(8 + 3); u8(8); u16(h); u16(w); u8(1); u8(1); u8(0x11); u8(0)
      marker(0xc4); u16(2 + 17 + 9); u8(0x00)
      (1 to 16).foreach(l => u8(if (l == 4) 9 else 0)); (0 to 8).foreach(u8)
      marker(0xc4); u16(2 + 17 + 1); u8(0x10)
      (1 to 16).foreach(l => u8(if (l == 1) 1 else 0)); u8(0x00)
      marker(0xda); u16(8); u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0)
      var acc = 0; var nb = 0
      def putBits(x: Int, n: Int): Unit = (n - 1 to 0 by -1).foreach { k =>
        acc = (acc << 1) | ((x >> k) & 1); nb += 1
        if (nb == 8) { bos.write(acc); if (acc == 0xff) bos.write(0x00); acc = 0; nb = 0 }
      }
      def pad(): Unit = while (nb != 0) putBits(1, 1)
      var pred = 0
      var rstN = 0
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      var mcu = 0
      for (by <- 0 until bh; bx <- 0 until bw) {
        if (restart > 0 && mcu > 0 && mcu % restart == 0) {
          pad(); marker(0xd0 + (rstN % 8)); rstN += 1; pred = 0
        }
        val dc = v(by, bx) - 128
        val diff = dc - pred; pred = dc
        val s = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
        putBits(s, 4)
        if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        putBits(0, 1)
        mcu += 1
      }
      pad(); marker(0xd9)
      bos.toByteArray
    }
    // DC quant 8 makes the lossy codec exact on flat blocks: decoded
    // pixels must equal the generator arithmetic bit for bit
    def vf(by: Int, bx: Int): Int = (41 + by * 13 + bx * 29) % 256
    val Some((w, h, px)) = Headers.jpegGray(encode(16, 16, vf))
    assert(w == 16 && h == 16)
    for (y <- 0 until 16; x <- 0 until 16)
      assert(px(y * 16 + x) == vf(y / 8, x / 8), s"pixel ($y,$x)")
    // restart markers: same pixels, DC predictors reset per interval
    val Some((_, _, pxR)) = Headers.jpegGray(encode(16, 16, vf, restart = 1))
    assert(pxR.toSeq == px.toSeq)
    // non-multiple-of-8 dims: edge blocks clipped, interior exact
    val Some((w2, h2, px2)) = Headers.jpegGray(encode(12, 10, vf))
    assert(w2 == 12 && h2 == 10 && px2(9 * 12 + 11) == vf(1, 1))
    // the general AC path against an INDEPENDENT codec: the JDK's
    // ImageIO encodes a gradient (real quant tables, real AC runs);
    // our decoder must agree with ImageIO's own decode within the
    // spec's IDCT tolerance
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 24)
      img.getRaster.setSample(x, y, 0, (x * 9 + y * 5 + (x * y) % 7) % 256)
    val jout = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", jout))
    val jb = jout.toByteArray
    val Some((jw, jh, jpx)) = Headers.jpegGray(jb)
    assert(jw == 24 && jh == 16)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
    var maxDiff = 0
    for (y <- 0 until 16; x <- 0 until 24)
      maxDiff = math.max(maxDiff,
        math.abs(jpx(y * 24 + x) - ref.getRaster.getSample(x, y, 0)))
    assert(maxDiff <= 2, s"ImageIO divergence $maxDiff")
    // hostile inputs degrade to None, never hang: truncated scan,
    // progressive frame, desynced marker stream
    val good = encode(16, 16, vf)
    assert(Headers.jpegGray(good.dropRight(6)).isEmpty)
    val sof2 = good.clone()
    val sofAt = { var i = 2; while (!((sof2(i) & 0xff) == 0xff && (sof2(i + 1) & 0xff) == 0xc0)) i += 1; i }
    sof2(sofAt + 1) = 0xc2.toByte
    assert(Headers.jpegGray(sof2).isEmpty)
    assert(Headers.jpegGray("not a jpeg".getBytes).isEmpty)
    // ADVICE r9: buffer ending in a run of fill bytes must map to None,
    // not an out-of-bounds read from the marker walk
    assert(Headers.jpegGray(
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff).map(_.toByte)).isEmpty)
    assert(Headers.jpegGray(
      Array(0xff, 0xd8, 0xff, 0xff).map(_.toByte)).isEmpty)
    // ADVICE r9: a len==2 SOS segment at end-of-file must not read past
    // the array (headers valid, scan header empty)
    val sosAt = { var i = 2; while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda)) i += 1; i }
    val truncSos = good.take(sosAt + 4)
    truncSos(sosAt + 2) = 0x00.toByte // segment length = 2: no payload
    truncSos(sosAt + 3) = 0x02.toByte
    assert(Headers.jpegGray(truncSos).isEmpty)
  }
}
