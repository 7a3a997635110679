package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Independent verification of `rolling_chunks` (q39 has no SQL oracle —
  * a Rabin–Karp CDC is impractical to express in DuckDB, so this spec is
  * its correctness gate): a from-scratch reference chunker implemented a
  * different way (per-position window hash recomputation instead of the
  * expression's incremental roll), compared exhaustively, plus structural
  * invariants over generated inputs.
  */
class RollingChunksSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Reference implementation. Deliberately NOT a rolling hash: at every
    * position it recomputes the polynomial hash of the trailing `window`
    * bytes from scratch, so an off-by-one in the expression's incremental
    * subtraction (`bPow`, the `i - start >= window` guard, boundary reset)
    * cannot be reproduced here.
    */
  object ReferenceChunker {
    final case class Chunk(start: Int, end: Int, fp: String) // end exclusive

    def chunks(text: String, window: Int = 16, maskBits: Int = 6): Seq[Chunk] = {
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      val mask = (1L << maskBits) - 1
      def windowHash(i: Int): Long = {
        var h = 0L
        var j = i - window + 1
        while (j <= i) { h = h * 257L + (bytes(j) & 0xff); j += 1 }
        h
      }
      def fp(s: Int, e: Int): String =
        MessageDigest.getInstance("MD5")
          .digest(java.util.Arrays.copyOfRange(bytes, s, e))
          .map("%02x".format(_)).mkString
      val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
      var start = 0
      var i = 0
      while (i < bytes.length) {
        val chunkLen = i - start + 1
        val cut = (chunkLen >= window && (windowHash(i) & mask) == 0L) ||
          i == bytes.length - 1
        if (cut) { out += Chunk(start, i + 1, fp(start, i + 1)); start = i + 1 }
        i += 1
      }
      out.toSeq
    }
  }

  private def exprChunks(texts: Seq[String], window: Int, maskBits: Int): Seq[Seq[String]] = {
    texts.toDF("t")
      .select(GraftFunctions.rolling_chunks($"t", window, maskBits).as("c"))
      .collect().toSeq.map(_.getSeq[String](0))
  }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // long-ish strings over a tiny alphabet maximize boundary hits; unicode
  // mixes multi-byte UTF-8 into the byte stream
  private val textGen: Gen[String] = Gen.oneOf(
    Gen.listOfN(400, Gen.oneOf('a', 'b', ' ')).map(_.mkString),
    Gen.listOfN(150, Gen.oneOf('雪', 'x', '!', '√')).map(_.mkString),
    Gen.asciiPrintableStr)

  test("expression matches the independent reference on generated corpora") {
    val texts = samples(textGen, 120) ++
      Seq("", "a", "a" * 15, "a" * 16, "a" * 17, "孤独摇滚！" * 40)
    for ((w, m) <- Seq((16, 6), (4, 3), (8, 2), (2, 4))) {
      val got = exprChunks(texts, w, m)
      val want = texts.map(t => ReferenceChunker.chunks(t, w, m).map(_.fp))
      texts.indices.foreach { i =>
        assert(got(i) === want(i),
          s"window=$w maskBits=$m text=${texts(i).take(60)}...")
      }
    }
  }

  test("chunks partition the byte stream exactly (concatenation identity)") {
    samples(textGen, 60).filter(_.nonEmpty).foreach { t =>
      val cs = ReferenceChunker.chunks(t, 8, 3)
      val bytes = t.getBytes(StandardCharsets.UTF_8)
      assert(cs.head.start === 0)
      assert(cs.last.end === bytes.length)
      cs.sliding(2).foreach {
        case Seq(a, b) => assert(a.end === b.start) // no gaps, no overlaps
        case _ => ()
      }
      // every fingerprint is the md5 of exactly its segment
      cs.foreach { c =>
        val seg = java.util.Arrays.copyOfRange(bytes, c.start, c.end)
        val md5 = MessageDigest.getInstance("MD5").digest(seg)
          .map("%02x".format(_)).mkString
        assert(c.fp === md5)
      }
    }
  }

  test("boundaries are greedy-minimal: no qualifying cut point is skipped") {
    samples(textGen, 40).filter(_.length > 20).foreach { t =>
      val w = 4; val m = 3
      val bytes = t.getBytes(StandardCharsets.UTF_8)
      val mask = (1L << m) - 1
      def windowHash(i: Int): Long = {
        var h = 0L
        var j = i - w + 1
        while (j <= i) { h = h * 257L + (bytes(j) & 0xff); j += 1 }
        h
      }
      ReferenceChunker.chunks(t, w, m).foreach { c =>
        // interior positions that meet the min-length rule must NOT qualify
        // (otherwise the chunk would have been cut there)
        (c.start + w - 1 until c.end - 1).foreach { i =>
          assert((windowHash(i) & mask) != 0L,
            s"skipped qualifying boundary at byte $i inside [${c.start},${c.end})")
        }
      }
    }
  }

  test("appending a suffix never changes completed chunks (shift resistance)") {
    val pairs = samples(Gen.zip(textGen, textGen), 60)
    pairs.foreach { case (t, extra) =>
      val base = ReferenceChunker.chunks(t, 8, 3).map(_.fp)
      val grown = ReferenceChunker.chunks(t + extra, 8, 3).map(_.fp)
      // all of base except its forced final chunk must survive verbatim
      assert(grown.take(base.length - 1) === base.dropRight(1))
    }
  }

  test("doGenCode compiles: results identical with codegen fallback disabled") {
    // with fallback OFF a generated-code compile error fails hard instead
    // of silently dropping to the interpreted path
    import spark.implicits._
    withSQLConf(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false") {
      val texts = samples(textGen, 25)
      val got = texts.toDF("t")
        .select(graft.functions.GraftFunctions.rolling_chunks($"t", 8, 3).as("c"))
        .collect().map(_.getSeq[String](0).toList)
      val exp = texts.map(t => ReferenceChunker.chunks(t, 8, 3).map(_.fp).toList)
      assert(got.toList === exp.toList)
    }
  }
}
