package graft

import graft.extensions.Signatures
import graft.model.{SchemaBuilder, TypeMapping}
import graft.reliability.{Retry, RetryPolicy}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (ScalaCheck) for the pure kernels. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("pgToSpark is total: any string maps to some DataType, arrays nest") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val t = TypeMapping.pgToSpark(s)
      val compat = TypeMapping.pgToSpark(s, compat = true)
      t.isInstanceOf[DataType] && compat.isInstanceOf[DataType] &&
        (TypeMapping.pgToSpark(s + "[]") match {
          case ArrayType(inner, _) => inner == t
          case _ => false
        }) &&
        TypeMapping.pgToSpark(s + "[]", compat = true) == StringType
    })
  }

  test("schema merge is idempotent and add-only") {
    val genSchema = Gen.mapOf(Gen.zip(
      Gen.identifier.map(_.take(8)),
      Gen.oneOf[DataType](BooleanType, IntegerType, LongType, FloatType,
        DoubleType, StringType))).map(cols => StructType(
      cols.toSeq.sortBy(_._1).map { case (n, t) => StructField(n, t) }))
    check(Prop.forAll(genSchema, genSchema) { (sa, sb) =>
      val (m1, v1) = SchemaBuilder.merge(sa, sb, 0)
      val (m2, v2) = SchemaBuilder.merge(m1, sb, v1)
      // idempotent
      m2 == m1 && v2 == v1 &&
        // add-only: every original field survives with its type, in place
        m1.fields.take(sa.fields.length).toSeq == sa.fields.toSeq &&
        // complete: every incoming field name is present
        sb.fieldNames.forall(m1.fieldNames.contains)
    })
  }

  test("backoff is bounded by the jittered cap and never negative") {
    val genAttempt = Gen.choose(1, 50)
    val genJitter = Gen.choose(0.0, 1.0)
    check(Prop.forAll(genAttempt, genJitter) { (attempt, j) =>
      val p = RetryPolicy(initialIntervalMs = 1000, maxIntervalMs = 30000,
        multiplier = 2.0, jitter = true, jitterFraction = () => j)
      val b = Retry.backoffMs(p, attempt)
      b >= 0 && b <= (30000 * 1.25).toLong &&
        (attempt == 1 && j == 0.5) == (b == 1000 && attempt == 1 && j == 0.5)
    })
  }

  test("signature kernels: determinism, ranges, and set semantics") {
    val genText = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd", "e"))
      .map(_.mkString(" "))
    check(Prop.forAll(genText) { t =>
      val sh = Signatures.wordShingles(t)
      val mh = Signatures.minhash(sh, 8)
      val sim = Signatures.simhash32(sh)
      sh.nonEmpty && sh.distinct == sh &&
        mh == Signatures.minhash(sh, 8) && mh.length == 8 &&
        mh.forall(h => h >= 0 && h < Signatures.MinhashP) &&
        sim >= 0 && sim < (1L << 32) &&
        Signatures.rollingFingerprint(t) == Signatures.rollingFingerprint(t) &&
        Signatures.rollingFingerprint(t) >= 0
    })
  }

  test("char-ngram fast kernel == definitional path (property)") {
    val genText = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    check(Prop.forAll(genText) { t =>
      val (hs, mh) = Signatures.charNgramSig(t, 5, 8)
      val defSet = Signatures.distinctSorted(
        Signatures.charNgrams(t, 5).map(Signatures.polyHash).toArray)
      hs == defSet &&
        mh.length == 8 && mh.forall(v => v >= 0 && v < Signatures.MinhashP)
    })
  }

  test("hashed shingle sets are sorted, distinct, and order-insensitive") {
    val genTokens = Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    check(Prop.forAll(genTokens) { toks =>
      val hs = Signatures.hashedSet(toks)
      hs == hs.sorted && hs.distinct == hs &&
        hs == Signatures.hashedSet(scala.util.Random.shuffle(toks).distinct ++ toks)
    })
  }

  test("PNG header round-trips for arbitrary dimensions") {
    import graft.extensions.Png
    check(Prop.forAll(Gen.choose(1, 1 << 20), Gen.choose(1, 1 << 20)) { (w, h) =>
      Png.parseIhdr(Png.header(w, h) ++ Array.fill(7)(0x5a.toByte)).contains((w, h))
    })
  }

  test("mp4/wav parsers reject crafted near-MaxValue chunk sizes (no overflow)") {
    import graft.extensions.{Mp4, Wav}
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def le32(v: Int) = Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    // ftyp, then a box whose size wraps `off + size` negative if summed in Int
    val mp4 = Mp4.header(1000, 500).take(20) ++
      be32(0x7ffffff9) ++ "free".getBytes("US-ASCII") ++ Array.fill[Byte](16)(0)
    assert(Mp4.parseMvhd(mp4).isEmpty) // must not throw AIOOBE
    // valid RIFF/WAVE + fmt, then a junk chunk with a wrapping size before data
    val wav = Wav.header(2, 44100, 100).take(36) ++
      "junk".getBytes("US-ASCII") ++ le32(0x7ffffff0) ++ Array.fill[Byte](8)(0)
    assert(Wav.parseFmt(wav).isEmpty) // must not throw AIOOBE
    // sanity: the well-formed fixtures still parse
    assert(Mp4.parseMvhd(Mp4.header(1000, 500)).contains(Mp4.Mvhd(1000L, 500L)))
    assert(Wav.parseFmt(Wav.header(2, 44100, 100)).contains(Wav.Fmt(2, 44100, 16, 100)))
  }

  test("PNG encode/decode round-trips arbitrary images losslessly") {
    import graft.extensions.Png
    val genDim = Gen.choose(1, 40)
    check(Prop.forAll(genDim, genDim, Gen.choose(0, 255)) { (w, h, seed) =>
      // pseudo-random but generator-driven pixels: every byte position
      // gets a distinct mixed value, so any filter-reversal bug in any
      // of the five filter types (h can exceed 5) corrupts some pixel
      def v(x: Int, y: Int, c: Int) = (x * 31 + y * 17 + c * 7 + seed) % 256
      val dec = Png.decodeRgb(Png.encodeRgb(w, h, v))
      dec.exists { d =>
        d.width == w && d.height == h &&
          (0 until w * h * 3).forall { i =>
            val (p, c) = (i / 3, i % 3)
            (d.pixels(i) & 0xff) == v(p % w, p / w, c)
          }
      }
    })
  }

  test("PNG decode survives crafted inputs the generator can't reach: " +
    "near-MaxValue chunk length, preset-dictionary zlib stream") {
    import graft.extensions.Png
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      val payload = typ.getBytes("US-ASCII") ++ data
      crc.update(payload)
      be32(data.length) ++ payload ++ be32(crc.getValue.toInt)
    }
    // chunk length near Int.MaxValue: `off + 12 + len` wraps negative if
    // summed in Int, sneaking past the bounds check into crc.update
    val overflow = Png.header(8, 8) ++ be32(0x7ffffff0) ++
      "IDAT".getBytes("US-ASCII") ++ Array.fill[Byte](8)(0)
    assert(Png.decodeRgb(overflow).isEmpty) // None, not AIOOBE
    // CRC-VALID IDAT whose zlib header sets FDICT (0x78 0x20 satisfies
    // the mod-31 check): inflate() returns 0 with needsDictionary()
    // forever — must bail as malformed, not spin
    val fdict = Png.header(2, 2) ++
      chunk("IDAT", Array(0x78.toByte, 0x20.toByte, 0, 0, 0, 1)) ++
      chunk("IEND", Array.empty)
    assert(Png.decodeRgb(fdict).isEmpty) // None, not a hang
  }

  test("PNG decode is total on garbage: None, never an exception") {
    import graft.extensions.Png
    check(Prop.forAll(Gen.containerOf[Array, Byte](
        Gen.choose(Byte.MinValue, Byte.MaxValue))) { junk =>
      Png.decodeRgb(junk).forall(_ => true) // must not throw
      Png.decodeRgb(Png.Signature ++ junk).forall(_ => true)
      true
    })
  }

  test("WAV PCM samples round-trip for arbitrary sample arrays") {
    import graft.extensions.Wav
    check(Prop.forAll(Gen.listOf(Gen.choose(-32768, 32767)),
        Gen.oneOf(1, 2), Gen.oneOf(8000, 44100)) { (samples, ch, rate) =>
      val data = new Array[Byte](samples.length * 2)
      for ((v, i) <- samples.zipWithIndex) {
        data(2 * i) = v.toByte; data(2 * i + 1) = (v >> 8).toByte
      }
      val blob = Wav.header(ch, rate, data.length) ++ data
      Wav.decodeSamples(blob).exists(_.toSeq == samples)
    })
  }

  test("RestWire schema JSON round-trip preserves names, ids, nullability; normalization is idempotent") {
    import graft.lake.RestWire
    import graft.model.FieldIds
    val genType = Gen.oneOf[DataType](BooleanType, ByteType, ShortType,
      IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType,
      TimestampNTZType, StringType, BinaryType, DecimalType(12, 3))
    val genField = for {
      n   <- Gen.identifier.map(s => "c_" + s.take(10))
      t   <- genType
      nul <- Gen.oneOf(true, false)
    } yield StructField(n, t, nul)
    val genSchema = Gen.nonEmptyListOf(genField)
      .map(fs => StructType(fs.distinctBy(_.name)))
    check(Prop.forAll(genSchema) { raw =>
      val stamped = FieldIds.stamp(raw)._1
      def roundTrip(s: StructType): StructType =
        RestWire.schemaFromJson(RestWire.schemaJson(s, 0))
      val once = roundTrip(stamped)
      // byte/short normalize to the Iceberg int; everything else is
      // identity — names, order, nullability, and field ids all survive
      once.fieldNames.toSeq == stamped.fieldNames.toSeq &&
        once.fields.zip(stamped.fields).forall { case (a, b) =>
          a.nullable == b.nullable &&
            FieldIds.idOf(a) == FieldIds.idOf(b) &&
            (a.dataType == b.dataType ||
              (a.dataType == IntegerType &&
                (b.dataType == ByteType || b.dataType == ShortType)))
        } &&
        roundTrip(once) == once // idempotent after first normalization
    })
  }

  test("OIDC validator: issuer-signed tokens verify; any payload tamper or wrong claim refuses") {
    val issuer = new FakeOidcIssuer("p1")
    val base = issuer.base
    try {
      val v = new graft.api.OidcValidator(base, "aud-1")
      def sign(payload: String): String = issuer.jwt(payload)
      def now: Long = System.currentTimeMillis() / 1000
      val genSub = Gen.identifier.map(_.take(12)).suchThat(_.nonEmpty)
      // any subject at any future expiry verifies, and the verified
      // identity is exactly the token's subject
      check(Prop.forAll(genSub, Gen.choose(120L, 864000L)) { (sub, ttl) =>
        val tok = sign(
          s"""{"iss":"$base","aud":"aud-1","sub":"$sub","exp":${now + ttl}}""")
        v.validate(tok).toOption.exists(_.subject == sub)
      })
      // flipping ANY character of the payload segment except the LAST
      // (whose low bits may be base64 padding slack) refuses — either
      // the signature breaks or the segment stops decoding; never a
      // quiet acceptance of altered claims
      val alphabet =
        ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_").toVector
      check(Prop.forAll(genSub, Gen.choose(0, 10000)) { (sub, posSeed) =>
        val tok = sign(
          s"""{"iss":"$base","aud":"aud-1","sub":"$sub","exp":${now + 600}}""")
        val parts = tok.split('.')
        val p = parts(1)
        val pos = posSeed % (p.length - 1) // every non-final position
        val repl = alphabet.find(_ != p(pos)).get
        val tampered = s"${parts(0)}.${p.updated(pos, repl)}.${parts(2)}"
        v.validate(tampered).isLeft
      })
      // wrong audience and past expiry refuse with their own reasons
      check(Prop.forAll(genSub, Gen.choose(120L, 864000L)) { (sub, off) =>
        val wrongAud = sign(
          s"""{"iss":"$base","aud":"x-$sub","sub":"$sub","exp":${now + off}}""")
        val expired = sign(
          s"""{"iss":"$base","aud":"aud-1","sub":"$sub","exp":${now - off}}""")
        v.validate(wrongAud).left.exists(_.contains("audience")) &&
          v.validate(expired) == Left("expired")
      })
    } finally issuer.stop()
  }

  test("minhash agreement rises with jaccard (LSH premise, statistical)") {
    // identical inputs agree on all hashes; disjoint inputs agree on ~none
    val a = Signatures.wordShingles((1 to 50).map(i => s"tok$i").mkString(" "))
    val b = Signatures.wordShingles((1 to 50).map(i => s"tok$i").mkString(" "))
    val c = Signatures.wordShingles((100 to 150).map(i => s"tok$i").mkString(" "))
    val k = 64
    def agree(x: Seq[String], y: Seq[String]) =
      Signatures.minhash(x, k).zip(Signatures.minhash(y, k)).count(p => p._1 == p._2)
    assert(agree(a, b) === k)
    assert(agree(a, c) <= k / 8)
  }

  // strings that exercise the window kernels' edges: empties, runs of
  // spaces (split keeps empty tokens), unicode, and lengths around the
  // window size
  private val genText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.identifier.map(_.take(5)), Gen.const("")))
      .map(_.mkString(" ")),
    Gen.listOf(Gen.oneOf('a', 'b', ' ', ' ', 'é', '中')).map(_.mkString))

  test("polyNgramHashes: entry i == polyHash(substring window), count == max(len-n+1, 1)") {
    check(Prop.forAll(genText, Gen.choose(1, 5)) { (s, n) =>
      val hs = Signatures.polyNgramHashes(s, n)
      val count = math.max(s.length - n + 1, 1)
      hs.length == count && hs.indices.forall { i =>
        hs(i) == Signatures.polyHash(
          s.substring(i, math.min(i + n, s.length)))
      }
    })
  }

  test("tokenWindowHashes: entry i == polyHash of the space-joined token window, count == max(tokens-k+1, 1)") {
    check(Prop.forAll(genText, Gen.choose(1, 4)) { (s, k) =>
      val toks = s.split(" ", -1)
      val hs = Signatures.tokenWindowHashes(s, k)
      val count = math.max(toks.length - k + 1, 1)
      hs.length == count && hs.indices.forall { i =>
        hs(i) == Signatures.polyHash(
          toks.slice(i, math.min(i + k, toks.length)).mkString(" "))
      }
    })
  }

  test("phash56: 56-bit range, deterministic, brightness-shift invariant") {
    val genImg = for {
      w <- Gen.choose(8, 40); h <- Gen.choose(8, 32)
      seed <- Gen.choose(0, 1 << 20)
    } yield (w, h, seed)
    check(Prop.forAll(genImg, Gen.choose(1, 30)) { case ((w, h, seed), shift) =>
      val rnd = new scala.util.Random(seed)
      // bounded so a uniform +shift never wraps any channel
      val px = Array.fill(w * h * 3)((rnd.nextInt(200)).toByte)
      val brighter = px.map(b => ((b & 0xff) + shift).toByte)
      val hash = extensions.Multimodal.phash56(w, h, px)
      (hash >>> 56) == 0L &&
        hash == extensions.Multimodal.phash56(w, h, px.clone()) &&
        hash == extensions.Multimodal.phash56(w, h, brighter)
    })
  }

  test("audioHash56: 56-bit range, deterministic, positive-gain invariant") {
    val genClip = for {
      n <- Gen.choose(0, 600)
      seed <- Gen.choose(0, 1 << 20)
    } yield (n, seed)
    check(Prop.forAll(genClip, Gen.choose(2, 8)) { case ((n, seed), gain) =>
      val rnd = new scala.util.Random(seed)
      val clip = Array.fill(n)(rnd.nextInt(4000) - 2000)
      val hash = extensions.Multimodal.audioHash56(clip)
      (hash >>> 56) == 0L &&
        hash == extensions.Multimodal.audioHash56(clip.clone()) &&
        hash == extensions.Multimodal.audioHash56(clip.map(_ * gain))
    })
  }

  test("majority3: per-bit median — idempotent, symmetric, bounded by OR/AND") {
    import extensions.Multimodal.majority3
    check(Prop.forAll { (a: Long, b: Long, c: Long) =>
      val m = majority3(a, b, c)
      majority3(a, a, b) == a && // any two agreeing inputs win
        m == majority3(b, c, a) && m == majority3(c, a, b) && // symmetric
        m == majority3(b, a, c) &&
        (m & (a | b | c)) == m && // no bit from nowhere
        (m & (a & b & c)) == (a & b & c) // unanimous bits survive
    })
  }

  test("videoHash56: 56-bit range, deterministic, whole-clip brightness invariant") {
    // a uniform brightness shift on EVERY frame shifts each sampled
    // frame's gradients identically, so each frame hash — and therefore
    // the per-bit majority — is unchanged (the video inherits dHash's
    // invariance through the fold)
    val genVid = for {
      w <- Gen.choose(8, 24); h <- Gen.choose(8, 16)
      nf <- Gen.choose(3, 7); seed <- Gen.choose(0, 1 << 20)
    } yield (w, h, nf, seed)
    check(Prop.forAll(genVid, Gen.choose(1, 30)) { case ((w, h, nf, seed), shift) =>
      val rnd = new scala.util.Random(seed)
      val frames = Array.fill(nf, w * h * 3)(rnd.nextInt(200))
      def enc(delta: Int) = extensions.Mp4.encodeVideo(
        600, nf * 25, w, h, nf,
        (f, x, y, c) => frames(f)((y * w + x) * 3 + c) + delta)
      val hash = extensions.Multimodal.videoHash56(enc(0))
      hash.exists(v => (v >>> 56) == 0L) &&
        hash == extensions.Multimodal.videoHash56(enc(0)) &&
        hash == extensions.Multimodal.videoHash56(enc(shift))
    })
  }
}
