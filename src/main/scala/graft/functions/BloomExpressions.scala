package graft.functions

import java.io.ByteArrayInputStream

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{lit, xxhash64}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.Lake

/** The library's one bloom filter: sizing, build and probe.
  *
  * A bloom is an exact operator's membership PRE-filter: it admits
  * false positives at [[Fpp]] and never a false negative, so an exact
  * join downstream still sees every true match and the output equals
  * the unfiltered operator's. Its callers are x33's corpus probe
  * ([[graft.ext.Dedup.incrementalDedup]]) and the wedge-stream
  * fallback of triangle enumeration ([[graft.ext.Graph]]).
  *
  * Build: Spark's native `BloomFilterAggregate` over `xxhash64(key)`,
  * one map-side-combining aggregate and a single bounded driver read
  * of the serialized sketch.
  *
  * Probe: the native `BloomFilterMightContain` requires its sketch
  * child to be FOLDABLE, so a prebuilt filter could only ride the
  * plan as a `Literal(bytes)`. That is the right call for the
  * runtime-filter sketches it was built for (≤ 8 MB under the default
  * conf clamps) — and exactly wrong for a fifth-decade arc-set bloom:
  * a 141 MB literal lands in the codegen reference array, the
  * reference array lands in the stage's task binary, and EVERY
  * CONCURRENT TASK deserializes its own private copy of the closure
  * (Spark deserializes `taskBinary.value` per task, not per
  * executor) — 32 running tasks × 141 MB ≈ 4.5 GB of identical
  * bitmaps per stage, times the plan copies a warm-rep protocol keeps
  * alive. That is what OOM'd the r16 100× probe at the 32 g contract
  * heap, in the exact stage the bloom exists to protect.
  *
  * So the probe carries a `Broadcast[Array[Byte]]` HANDLE instead (a
  * few bytes in the closure): the bitmap travels once per executor via
  * TorrentBroadcast, and the deserialized [[BloomFilter]] is interned
  * in a JVM-global cache keyed by broadcast id — one long[] per
  * executor JVM no matter how many tasks, stages, or timed reps probe
  * it. Codegen references the expression object itself
  * ([[CodegenContext.addReferenceObj]]) and calls
  * [[BloomMightContainBroadcast.probe]] per row, so the probe stays
  * inside whole-stage codegen.
  */
object BloomExpressions {

  /** A built bloom's broadcast bitmap; None when the build side was
    * empty (it contains nothing).
    */
  type Bloom = Option[Broadcast[Array[Byte]]]

  /** The false-positive rate every bloom is sized for. */
  private val Fpp = 0.01

  private val BitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
  private val ItemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"

  /** Optimal bloom bit count for `expectedItems` at [[Fpp]] (the
    * standard -n·ln p/ln²2).
    */
  private def bloomBits(expectedItems: Long): Long =
    math.ceil(-expectedItems.toDouble * math.log(Fpp) /
      (math.log(2) * math.log(2))).toLong

  /** Each site's live broadcast, for [[build]]'s release rule. */
  private val live = mutable.Map[String, Broadcast[Array[Byte]]]()

  /** Bloom of `key` over `df`, sized for `expectedItems`, broadcast.
    *
    * The native aggregate CLAMPS (Math.min, silently — no error) both
    * its numBits and estimatedNumItems against the runtime-filter conf
    * caps (64 M bits / 4 M items). This bloom is not a runtime filter,
    * so the build raises whichever cap it needs, for the build only.
    * Raising only the bit cap is a trap this code fell into once: with
    * items clamped to 4 M the optimal-k computation picks ~m/4M·ln2 ≈
    * 196 hash functions, 118 M real insertions saturate every bit, and
    * the "filter" passes ~100% of an 8.22 B-row wedge stream (r16
    * second probe attempt: 70 GB of survivor shuffle before the disk
    * died).
    *
    * EVERY partial-aggregation task holds a full bitmap plus its
    * serialize copy (~3× the bitmap bytes peak), so the build's
    * parallelism shrinks as the bloom grows: 32 concurrent 141 MB
    * bitmaps OOM'd a 32 g heap on the r16 third probe attempt. The
    * build scan is coalesced so all in-flight bitmaps stay inside a
    * ~4 GB budget; inserting 118 M keys is cheap enough that a handful
    * of tasks keep the build in seconds.
    *
    * `site` names the caller. Building a site's next bloom destroys
    * its previous broadcast: the executor-side LRU below only bounds
    * DESERIALIZED copies, while the serialized blocks sit in every
    * block manager until the driver GCs the handle, so a warm-rep
    * bench would accumulate one bitmap (~141 MB at the fifth decade)
    * per invocation. Every consuming action runs to completion before
    * the site's next plan is built, so the retired broadcast has no
    * in-flight reader.
    */
  def build(site: String, df: DataFrame, key: Column,
      expectedItems: Long): Bloom = {
    val spark = df.sparkSession
    val bits = bloomBits(expectedItems)
    val raised = Seq(BitsKey -> bits, ItemsKey -> expectedItems).collect {
      case (k, need) if need > spark.conf.get(k).toLong => k -> need.toString }
    val parts = math.max(1L,
      math.min(32L, 4000000000L / (3L * math.max(1L, bits / 8L)))).toInt
    val agg = new BloomFilterAggregate(
      GraftExpressionBridge.expression(xxhash64(key)),
      Literal(expectedItems), Literal(bits))
    val row = Lake.withConf(spark, raised: _*) {
      df.coalesce(parts)
        .agg(GraftExpressionBridge.column(agg.toAggregateExpression()))
        .head()
    }
    val bloom: Bloom = Option.when(!row.isNullAt(0))(
      spark.sparkContext.broadcast(row.getAs[Array[Byte]](0)))
    live.synchronized {
      live.remove(site).foreach { prev =>
        try prev.destroy() catch { case NonFatal(_) => () }
      }
      bloom.foreach(live(site) = _)
    }
    bloom
  }

  /** True when `key` MIGHT be in `bloom` (false positives at [[Fpp]],
    * never false negatives); an empty bloom contains nothing. The
    * probe is map work on the scan: no join, no shuffle.
    */
  def mightContain(bloom: Bloom, key: Column): Column =
    bloom.fold(lit(false))(bc => GraftExpressionBridge.column(
      BloomMightContainBroadcast(bc, GraftExpressionBridge.expression(xxhash64(key)))))

  /** One deserialized filter per broadcast id per JVM, LRU-bounded:
    * repeated bench reps re-broadcast fresh blooms and nothing else
    * evicts the old ones (the map would otherwise grow by one bitmap
    * per rep for the life of the JVM).
    */
  private val MaxCached = 4
  private val cache =
    new java.util.LinkedHashMap[Long, BloomFilter](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, BloomFilter]): Boolean =
        size() > MaxCached
    }

  private[functions] def filterFor(bc: Broadcast[Array[Byte]]): BloomFilter =
    cache.synchronized {
      val hit = cache.get(bc.id)
      if (hit != null) hit
      else {
        val f = BloomFilter.readFrom(new ByteArrayInputStream(bc.value))
        cache.put(bc.id, f)
        f
      }
    }
}

/** The probe expression behind [[BloomExpressions.mightContain]]: its
  * child is the xxhash64 of the key, the same long the build's
  * `BloomFilterAggregate` inserted via putLong.
  */
case class BloomMightContainBroadcast(bc: Broadcast[Array[Byte]],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = "might_contain_broadcast"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires the bigint xxhash64 of the probe key, " +
        s"got ${child.dataType.catalogString}")

  /** Resolved once per deserialized expression copy (= once per task),
    * NOT per row: `filterFor` takes a global monitor and mutates the
    * access-ordered LRU even on hits, so calling it from `probe` would
    * serialize every concurrent task on one lock in the row loop —
    * the exact stage the bloom exists to relieve.
    */
  @transient private lazy val filter: BloomFilter =
    BloomExpressions.filterFor(bc)

  def probe(h: Long): Boolean = filter.mightContainLong(h)

  override protected def nullSafeEval(h: Any): Any =
    probe(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h => {
      val ref = ctx.addReferenceObj("bloomProbe", this,
        classOf[BloomMightContainBroadcast].getName)
      s"${ev.value} = $ref.probe($h);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
