package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

object Mix63 {
  /** fmix64 constants (Appleby's MurmurHash3, public domain). */
  val C1: Long = 0xFF51AFD7ED558CCDL
  val C2: Long = 0xC4CEB9FE1A85EC53L

  private[graft] val Decl =
    new KernelDecl("graft_mix63", Seq(Kernel.BigintIn), LongType, this, "apply")

  /** Murmur3's fmix64 finalizer, masked to 63 bits: full avalanche over a
    * long whose raw distribution may be structured (polynomial fingerprints
    * of short sequential keys carry their prefix/magnitude structure in the
    * HIGH bits — measured: HLL registers fed raw fingerprints under-counted
    * 'item-N' keys 5–20×). After fmix64 every output bit depends on every
    * input bit, so sketches may slice index/rank bits anywhere.
    *
    * A native expression rather than SQL arithmetic because the mixing
    * multiplies rely on Java's wrapping long semantics — under Spark's
    * default ANSI mode a SQL-level overflow would throw. External engines
    * without wrapping 64-bit ops replay it with 32-bit limb splits over
    * 128-bit integers (see SketchQueries.mixSql — differentially verified
    * against this expression). Output is non-negative ([0, 2^63)), so
    * downstream ratio arithmetic never meets a sign. */
  def mix63(c: Column): Column = Decl(c)

  /** The kernel's static method, also the Scala implementation for specs
    * and driver-side use. */
  def apply(x0: Long): Long = {
    var x = x0
    x ^= (x >>> 33); x *= C1
    x ^= (x >>> 33); x *= C2
    x ^= (x >>> 33)
    x & Long.MaxValue
  }
}
