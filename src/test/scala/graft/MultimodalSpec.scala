package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  test("PGM parser: general Netpbm lexing (comments, unpadded dims)") {
    // a hand-written header the SYNTHESIZER never emits: comments between
    // tokens, tab separators, no zero padding — the parser is a real
    // Netpbm lexer, not a fixed-offset reader
    val header = "P5 # a comment\n# another line\n 12\t7\n# last\n255\n"
    val bytes = header.getBytes("US-ASCII") ++
      Array.tabulate(84)(i => (i * 3).toByte)
    val (w, h, po, end) = Multimodal.parsePgm(bytes, 0)
    assert((w, h) == (12, 7))
    assert(end - po == 84 && end == bytes.length)
    // truncated raster fails loudly
    intercept[IllegalArgumentException] {
      Multimodal.parsePgm(bytes.dropRight(1), 0)
    }
  }

  test("WAV parser: chunk walk tolerates extra chunks, PCM16 sign") {
    val samples = Array.tabulate(100)(i => ((i * 373) % 4096 - 2048).toShort)
    val base = Multimodal.wavBytes(8000, samples)
    val (ch0, rate0, off0, n0) = Multimodal.parseWav(base)
    assert(ch0 == 1 && rate0 == 8000 && n0 == 100)
    assert(((base(off0 + 1).toInt << 8) | (base(off0) & 0xFF))
      == samples(0).toInt)
    // splice an odd-length LIST chunk between fmt and data: the walker
    // must skip it (word-aligned) and still find the data chunk
    val listBody = "INFOjunk!".getBytes("US-ASCII") // 9 bytes, odd
    val bb = java.nio.ByteBuffer.allocate(8 + 10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("LIST".getBytes("US-ASCII")).putInt(9).put(listBody)
      .put(0.toByte)
    val spliced = base.take(36) ++ bb.array() ++ base.drop(36)
    val (ch, rate, off, n) = Multimodal.parseWav(spliced)
    assert(ch == 1 && rate == 8000 && n == 100)
    assert(((spliced(off + 1).toInt << 8) | (spliced(off) & 0xFF))
      == samples(0).toInt)
  }

  test("synthesize → REAL decode → features match local recomputation") {
    val ids = Tables(spark, TestSessions.Sf0001, "documents")
      .select("doc_id").limit(99)
    val feats = Multimodal.extractFeatures(
      Multimodal.synthesize(spark, ids, "doc_id"))
      .collect().sortBy(_.media_id)
    assert(feats.length == 99)
    def q6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    feats.foreach { f =>
      val id = f.media_id
      (id % 3) match {
        case 0 =>
          val w = (8 + id % 17).toInt; val h = (8 + id % 13).toInt
          assert(f.modality == "image" && f.width == w && f.height == h)
          assert(f.channels == 1 && f.n_frames == 1 && f.frames_sampled == 1)
          val s = (0 until w * h).map(i => (id * 31 + i * 7) % 256).sum
          assert(f.mean_q6 == q6(s.toDouble / (w * h)))
        case 1 =>
          val n = (200 + id % 300).toInt
          assert(f.modality == "audio" && f.sample_rate == 8000)
          assert(f.n_samples == n && f.channels == 1)
          val s = (0 until n)
            .map(i => math.abs((id * 13 + i * 17) % 4096 - 2048)).sum
          assert(f.mean_q6 == q6(s.toDouble / n))
        case _ =>
          val frames = (2 + id % 5).toInt
          val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
          assert(f.modality == "video" && f.n_frames == frames)
          assert(f.width == w && f.height == h)
          val sampledF = 0 until frames by 4
          assert(f.frames_sampled == sampledF.size)
          val vals = for (fr <- sampledF; i <- 0 until w * h)
            yield ((id + fr * 97 + i * 11) % 256).toLong
          assert(f.mean_q6 == q6(vals.sum.toDouble / vals.size))
      }
    }
    // determinism across runs
    val again = Multimodal.extractFeatures(
      Multimodal.synthesize(spark, ids, "doc_id"))
      .collect().sortBy(_.media_id)
    assert(feats.sameElements(again))
  }
}
