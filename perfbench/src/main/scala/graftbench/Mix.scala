package graftbench

/** Seeded, stateless pseudo-random functions. Every generated value is a
  * pure function of (seed, stream, index...), so the same seed rebuilds
  * the same inputs in any order, on the driver or inside a Spark task.
  */
object Mix {
  /** SplitMix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, stream: Long, a: Long, b: Long = 0L): Long =
    mix64(mix64(mix64(seed * 0x632BE59BD9B4E019L + stream) ^ a) ^ b)

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, a: Long, b: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, stream, a, b), n)

  /** A java.util.SplittableRandom for one (seed, stream, index) triple. */
  def rng(seed: Long, stream: Long, a: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(h(seed, stream, a))
}

/** Order-sensitive 64-bit fingerprint of a sequence of generated values. */
final class Fingerprint {
  private var acc = 0x5EEDF1A9L
  def add(x: Long): Unit = acc = Mix.mix64(acc ^ x)
  def add(s: String): Unit = {
    add(s.length.toLong)
    add(scala.util.hashing.MurmurHash3.stringHash(s).toLong)
  }
  def hex: String = f"$acc%016x"
}
