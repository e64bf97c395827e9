package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashExpressions.md5Prefix

/** Physical-layout optimization: space-filling-curve (Z-order) clustering,
  * the technique behind `OPTIMIZE ZORDER BY` in lakehouse table formats.
  * Sorting on the interleaved Morton code co-locates rows that are close in
  * EVERY keyed dimension, so per-file min/max statistics prune scans for
  * predicates on any of the keys — the multi-dimensional analogue of the
  * single-column sort the compaction path already applies. All bit
  * arithmetic is exact BIGINT, identical on any engine.
  */
object Layout {

  /** Spread the low 16 bits of `x` to the even bit positions of a 32-bit
    * lane (Morton/Z-curve bit spreading via the standard mask ladder —
    * each step doubles the gap between occupied bit groups).
    */
  def mortonSpread16(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = (a.bitwiseOR(shiftleft(a, 8))).bitwiseAND(lit(0x00FF00FFL))
    val c = (b.bitwiseOR(shiftleft(b, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val d = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Z-value of two 16-bit keys: x on even bits, y on odd bits. */
  def zValue16(x: Column, y: Column): Column =
    mortonSpread16(x).bitwiseOR(shiftleft(mortonSpread16(y), 1))

  /** 8-bit Morton spread (even bit positions of a 16-bit lane). */
  def mortonSpread8(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0FL))
    val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x3333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x5555L))
  }

  /** 16-bit Z-value of two 8-bit keys. */
  def zValue8(x: Column, y: Column): Column =
    mortonSpread8(x).bitwiseOR(shiftleft(mortonSpread8(y), 1))

  /** Z-order layout audit: scale both (non-negative) keys to the 8-bit
    * curve lane by their max — the rank-then-interleave step every real
    * Z-order implementation performs, since raw key domains rarely fill a
    * lane — then bucket rows by the top `bucketBits` of the interleaved
    * Z-value (each bucket ≅ one target file after a Z-sorted write) and
    * report per bucket the count and min/max range of BOTH raw keys:
    * exactly the footer statistics a scan prunes on. Tight ranges on both
    * dimensions at once are the property Z-ordering buys and a plain sort
    * cannot (sorting on x makes y ranges span the full domain).
    *
    * All arithmetic is exact BIGINT (`(v · 256) div (max + 1)`), so the
    * audit hashes across engines. Scale shape: one tiny max-aggregate
    * broadcast onto a map-side projection, then one partial+final
    * aggregate on the bucket id (buckets × 6 numbers of shuffle). The
    * production write path is `repartitionByRange(zValue)` + sorted write
    * — same computation; the aggregate makes clustering quality hashable.
    */
  def zorderAudit(df: DataFrame, xCol: Column, yCol: Column,
                  bucketBits: Int): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 16,
      s"bucketBits must be in [1,16], got $bucketBits")
    val m = df.agg(max(xCol).as("__xm"), max(yCol).as("__ym"))
    df.select(xCol.as("__x"), yCol.as("__y"))
      .crossJoin(broadcast(m))
      .withColumn("__bucket",
        shiftright(zValue8(expr("(__x * 256) div (__xm + 1)"),
                           expr("(__y * 256) div (__ym + 1)")),
                   16 - bucketBits))
      .groupBy(col("__bucket").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("__x")).as("x_min"), max(col("__x")).as("x_max"),
           min(col("__y")).as("y_min"), max(col("__y")).as("y_max"))
  }

  /** Rendezvous (highest-random-weight) routing audit: assign every key to
    * the shard whose per-(shard, key) hash is largest, for a cluster of
    * `nFrom` shards and again for `nTo`, and report balance plus how many
    * keys MOVE — the minimal-disruption property (Thaler & Ravishankar
    * 1998) that makes HRW the standard routing scheme for shard maps and
    * cache rings: growing `n → n+1` moves exactly the keys the NEW shard
    * now wins, ~1/(n+1) of them, where a mod-N map reshuffles nearly
    * everything.
    *
    * Plan shape: the shard argmax is a map-side projection — a literal
    * array of (hash, shard) structs per row, `array_max` picking the
    * winner under the total order (hash desc, then LOWER shard id via a
    * negated id, so a hypothetical hash tie breaks identically in any
    * engine) — and the corpus reduces to an (from, to) cell matrix of at
    * most nFrom·nTo rows in one partial+final aggregate. Everything after
    * is arithmetic on that tiny matrix. No join, no window, no explode.
    *
    * One row: (n_shards_from, n_shards_to, n_keys, moved, move_frac,
    * min/max per-shard counts on both maps — the balance audit).
    */
  def rendezvousMoveAudit(df: DataFrame, keyColName: String,
                          nFrom: Int, nTo: Int): DataFrame = {
    require(1 <= nFrom && nFrom <= nTo, s"need 1 <= nFrom <= nTo, got $nFrom/$nTo")
    def h(s: Int) = md5Prefix(concat(lit(s"rv$s:"), col("__k").cast("string")), 15)
    def argmax(n: Int) = -array_max(array((0 until n).map(s =>
      struct(h(s).as("h"), lit(-s.toLong).as("ns"))): _*)).getField("ns")
    val cells = df.select(col(keyColName).as("__k")).filter(col("__k").isNotNull)
      .select(argmax(nFrom).as("sf"), argmax(nTo).as("st"))
      .groupBy("sf", "st").agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ nFrom·nTo rows, referenced by four aggregates
    val moves = cells.agg(
      sum(col("n")).as("n_keys"),
      sum(when(col("sf") =!= col("st"), col("n")).otherwise(0L)).as("moved"))
    def balance(side: String, nm: String) = cells.groupBy(col(side))
      .agg(sum(col("n")).as("sn"))
      .agg(min(col("sn")).as(s"min_$nm"), max(col("sn")).as(s"max_$nm"))
    moves
      .crossJoin(broadcast(balance("sf", "from")))
      .crossJoin(broadcast(balance("st", "to")))
      .select(lit(nFrom.toLong).as("n_shards_from"), lit(nTo.toLong).as("n_shards_to"),
              col("n_keys"), col("moved"),
              round(col("moved").cast("double") / col("n_keys"), 6).as("move_frac"),
              col("min_from"), col("max_from"), col("min_to"), col("max_to"))
  }
}
