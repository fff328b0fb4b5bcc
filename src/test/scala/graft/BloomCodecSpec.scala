package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GBloom
import graft.sources.{BloomSidecar, IdBloom}

/** The stream codec the Bloom wire form was first written with: one
  * big-endian int or long at a time through Data{Output,Input}Stream.
  * Kept as the reference the bulk [[GBloom]] codec must match byte for
  * byte, so sidecars stored by either read back under the other. */
object StreamBloomCodec {
  def encode(bits: Array[Long], k: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeInt(bits.length)
    bits.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }

  def decode(bytes: Array[Byte]): (Int, Array[Long]) = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val k = in.readInt()
    val bits = Array.fill(in.readInt())(in.readLong())
    (k, bits)
  }
}

class BloomCodecSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** Filters as `GBloom.add` fills them: random keys added to arrays of
    * several sizes, up to the id sidecar's 2 MiB, plus the empty and
    * the all-ones edge cases. */
  private def filters: Seq[(Int, Array[Long])] = {
    val rnd = new scala.util.Random(42)
    val built = Seq(1, 2, 64, 2048, IdBloom.Bits / 64).map { n =>
      val bits = new Array[Long](n)
      (0 until 4 * n).foreach(_ => GBloom.add(bits, 5, rnd.nextString(12).getBytes("UTF-8")))
      (5, bits)
    }
    built ++ Seq((3, Array.empty[Long]), (7, Array.fill(16)(-1L)),
      (5, Array.fill(16)(rnd.nextLong())))
  }

  test("the bulk codec writes the stream codec's bytes and reads them back") {
    filters.foreach { case (k, bits) =>
      val bytes = GBloom.encode(bits, k)
      assert(java.util.Arrays.equals(bytes, StreamBloomCodec.encode(bits, k)),
        s"encode differs from the stream codec for ${bits.length} longs")
      val (kd, bd) = GBloom.decode(StreamBloomCodec.encode(bits, k))
      assert(kd === k && java.util.Arrays.equals(bd, bits),
        s"decode of the stream codec's bytes differs for ${bits.length} longs")
      val (kr, br) = StreamBloomCodec.decode(bytes)
      assert(kr === k && java.util.Arrays.equals(br, bits))
    }
  }

  test("a sidecar stored by the stream codec probes without a false negative") {
    val store = Files.createTempDirectory("graft-bloomcodec").toString + "/st"
    Files.createDirectories(java.nio.file.Paths.get(store))
    val sc = new BloomSidecar("_codec.bin", 1 << 12, 5)
    val keys = (0 until 200).map(i => s"key-$i")
    val bits = new Array[Long](sc.bits / 64)
    keys.foreach(k => GBloom.add(bits, sc.hashes, k.getBytes("UTF-8")))
    sc.write(s, store, StreamBloomCodec.encode(bits, sc.hashes))
    val stored = sc.read(s, store).get
    val (k, decoded) = GBloom.decode(stored)
    assert(k === sc.hashes && java.util.Arrays.equals(decoded, bits))
    // the map-side probe decodes the stored bytes with the bulk codec
    val sp = s; import sp.implicits._
    val probed = keys.toDF("k")
      .filter(sc.mightContain(org.apache.spark.sql.functions.col("k"), stored))
      .count()
    assert(probed === keys.size.toLong, "every stored key must probe as present")
    // and an absorb unions a stream-coded sidecar with a bulk-coded batch
    sc.absorb(s, store, Seq("late-key").toDF("k"))
    val (_, grown) = GBloom.decode(sc.read(s, store).get)
    (keys :+ "late-key").foreach(key =>
      assert(GBloom.contains(grown, sc.hashes, key.getBytes("UTF-8")), key))
  }
}
