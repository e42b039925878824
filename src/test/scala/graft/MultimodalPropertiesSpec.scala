package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.SparkSession

import graft.multimodal.Multimodal

/** The banded hamming pair miner vs brute force on arbitrary hash
  * sets: 4 × 16-bit band buckets claim FULL recall for hamming <= 3
  * (pigeonhole: <= 3 differing bits cannot touch all 4 bands), and the
  * exact bit_count verify removes every false candidate — so on ANY
  * hash multiset the output must equal the all-pairs reference. Hashes
  * are drawn to collide in bands often (sparse bit flips around a few
  * base hashes), because random 63-bit longs would almost never band
  * together and the property would test nothing.
  */
object MultimodalPropertiesSpec extends Properties("MediaNearDup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config(Harness.LocalFsConfs)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val baseHash: Gen[Long] =
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_ & ((1L << 63) - 1))

  /** A hash near one of a few bases: flip 0-6 random bit positions, so
    * pairs land on both sides of the hamming <= 3 boundary.
    */
  private def nearGen(bases: List[Long]): Gen[Long] = for {
    b <- Gen.oneOf(bases)
    nFlips <- Gen.chooseNum(0, 6)
    flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, 62))
  } yield flips.foldLeft(b)((h, i) => h ^ (1L << i))

  private val corpusGen: Gen[List[Long]] = for {
    nBases <- Gen.chooseNum(1, 3)
    bases <- Gen.listOfN(nBases, baseHash)
    n <- Gen.chooseNum(2, 12)
    hs <- Gen.listOfN(n, nearGen(bases))
  } yield hs

  property("banded pairs equal brute-force hamming pairs at every threshold") =
    forAll(corpusGen, Gen.chooseNum(0, 3)) { (hashes, maxH) =>
      import spark.implicits._
      val df = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        .toDF("doc_id", "phash")
      val got = Multimodal.nearDuplicatesFromHashes(df, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        a <- hashes.indices; b <- hashes.indices if a < b
        d = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
        if d <= maxH
      } yield (a.toLong, b.toLong, d)).toSet
      got == want
    }

  // decodeAudio against the JDK's own WAV ENCODER: any 16-bit PCM
  // sample sequence written by AudioSystem.write must decode back
  // bit-identically (little-endian mono/stereo, varied rates) — the
  // fixture-free counterpart of the committed-WAV tests.
  private val pcmGen: Gen[(List[Int], Int, Int)] = for {
    n <- Gen.chooseNum(1, 400)
    samples <- Gen.listOfN(n, Gen.chooseNum(-32768, 32767))
    channels <- Gen.oneOf(1, 2)
    rate <- Gen.oneOf(8000, 11025, 16000, 44100)
  } yield (samples.take(n - n % channels), channels, rate)

  property("decodeAudio inverts the JDK WAV encoder on random PCM") =
    forAll(pcmGen) { case (samples, channels, rate) =>
      samples.isEmpty || {
        val bytes = new Array[Byte](samples.length * 2)
        samples.zipWithIndex.foreach { case (s, i) =>
          bytes(2 * i) = (s & 0xff).toByte
          bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, channels, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(bytes), fmt,
          samples.length / channels)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        val a = Multimodal.decodeAudio(baos.toByteArray).get
        a.sampleRate == rate && a.channels == channels &&
          a.samples.toList == samples
      }
    }
}
