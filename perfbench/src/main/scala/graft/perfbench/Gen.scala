package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded inputs. Every generated value is a pure function of
  * (seed, coordinates), never of generation order or of Spark's
  * partitioning, so the benchmark's own threads and Spark's tasks derive the same bytes
  * and the same seed always yields byte-identical inputs. */
object Gen {
  /** Body alphabet: printable and JSON-safe, so a body travels the
    * HTTP API's raw (UTF-8) format unescaped. */
  private val Alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789".getBytes(UTF_8)

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of its input. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def key(seed: Long, domain: Int, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed ^ (domain.toLong << 56)) ^ a) ^ b)

  /** `size` seeded body bytes for record `id` of `domain`. */
  def body(seed: Long, domain: Int, id: Long, size: Int): Array[Byte] = {
    val out = new Array[Byte](size)
    var h = key(seed, domain, id)
    var i = 0
    while (i < size) {
      if ((i & 7) == 0) h = mix(h)
      out(i) = Alphabet(((h >>> ((i & 7) * 8)) & 0xff).toInt % Alphabet.length)
      i += 1
    }
    out
  }

  /** An events-table `props` value for record `id`: `{"k": N}` with a
    * seeded N in [0, 100), 8 or 9 bytes. */
  def props(seed: Long, domain: Int, id: Long): Array[Byte] =
    s"""{"k": ${java.lang.Math.floorMod(key(seed, domain, id, 2L), 100L)}}""".getBytes(UTF_8)

  /** Seeded stream index in [0, n) for record `id`. */
  def streamOf(seed: Long, domain: Int, id: Long, n: Int): Int =
    java.lang.Math.floorMod(key(seed, domain, id, 1L), n.toLong).toInt

  /** A live-tail record: a fixed-width header carrying the append
    * RPC's index, the record's index within it and its due time, then
    * seeded filler up to `size` bytes. The due time makes delivery
    * latency measurable at the consumer from the record alone. */
  def tailBody(seed: Long, stream: Int, rpc: Int, i: Int, dueNs: Long,
               size: Int): Array[Byte] = {
    val head = f"$rpc%08d.$i%03d.$dueNs%020d.".getBytes(UTF_8)
    val b = body(seed, 10 + stream, rpc.toLong * 1000 + i, size)
    System.arraycopy(head, 0, b, 0, math.min(head.length, size))
    b
  }

  /** (rpc, record index, due time) back from a [[tailBody]]. */
  def parseTail(body: Array[Byte]): (Int, Int, Long) = {
    val s = new String(body, 0, 34, UTF_8)
    (s.substring(0, 8).toInt, s.substring(9, 12).toInt, s.substring(13, 33).toLong)
  }
}

/** Running md5 chain over a stream's bodies in seq order:
  * c(k) = md5(c(k-1) ++ body(k)). Equal chains mean the same bodies in
  * the same order. */
final class Chain {
  private val md = java.security.MessageDigest.getInstance("MD5")
  private var c: Array[Byte] = Array.emptyByteArray
  var count: Long = 0L
  def add(body: Array[Byte]): Unit = {
    md.reset(); md.update(c); md.update(body)
    c = md.digest(); count += 1
  }
  def hex: String = c.map(b => f"${b & 0xff}%02x").mkString
}
