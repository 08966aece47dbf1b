package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.catalyst.plans.physical.BroadcastPartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Test-table access for the driver-provided TPC-H-ish parquet data
  * (see /root/repo/TESTDATA.md). In the reference these arrive via
  * Sqoop extract + Redshift COPY (/root/reference/python/etl/extract/sqoop.py:54-71,
  * python/etl/dialect/redshift.py:297-369); here the parquet directory
  * IS the warehouse and `spark.read.parquet` is the (already columnar,
  * already compressed) load path.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
      // Spark's vectorized reader rejects — read nanos as long, then
      // convert; µs-precision data, so lossless) and plain
      // TIMESTAMP(MICROS) (read as-is). Adapt to what the file holds
      // rather than assuming one generation of the testdata.
      // The nanosAsLong conf is set at session build (Verify/Bench);
      // the guarded set here covers ad-hoc sessions without re-mutating
      // config on every load.
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // normalize to the session TimestampType (session tz is
          // pinned UTC, so the instant is unchanged) — downstream
          // code compares ts against to_timestamp literals and dumps
          // TIMESTAMP_MICROS parquet, both of which expect LTZ
          raw.withColumn("ts", col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
        case _ => raw   // already the session timestamp type
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Register every table as a temp view so `spark.sql` transform
    * queries (the reference's CTAS/VIEW surface) can resolve them. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Spread a CPU-heavy per-row kernel over the session's cores when
    * the upstream SCAN under-splits (guide §2.5 "input skew: one huge
    * unsplittable file → repartition immediately after the read").
    * The test tables are single small parquet files — one input split
    * — so without this every O(L²) kernel (deletion-neighborhood
    * hashing, shingling, tokenization) ran on ONE core while 31 sat
    * idle (measured: the fuzzy_join_names2 variant-explode map stage
    * was 1 task × 4.9 s — half the entry's wall).
    *
    * Scale-adaptive by construction: the exchange is inserted ONLY
    * when [[planSplits]] finds fewer splits than the session's
    * parallelism. At 100 TB a corpus scan yields thousands of splits,
    * so this is a no-op there — never a gratuitous full-corpus
    * shuffle. The exchange is a HASH repartition on the head column
    * (id-like at every kernel call site) — keyless round-robin was
    * tried and rejected in r19: it defeats AQE exchange reuse (two
    * kernel map stages) and pays a local sort per task for retry
    * determinism. The hash expression is deterministic, so retried
    * tasks reproduce their assignment. Downstream kernels are
    * content-keyed; the one numbering consumer (Identity)
    * range-repartitions on its declared order afterwards, and rows
    * TIED on that order keep this hash's arrival order — so this key
    * is part of the pinned numbering behavior and must not change
    * lightly (an all-columns variant here flipped tied surrogate keys
    * in t2_identity_ctas). */
  def spread(df: DataFrame, cap: Int = Int.MaxValue): DataFrame =
    fanOut(df, cap)(Seq(column(df, df.columns.head)))

  /** The WRITE-PATH spread (Warehouse.writeTable's cap-8 fan-out):
    * hash on EVERY hashable column, so a relation whose head column is
    * low-cardinality or skewed cannot collapse the "spread" into 1-2
    * hot partitions — the generic-relation hazard the kernel-site
    * [[spread]] never faces (its call sites all lead with an id).
    * Write layout only: which file a row lands in cannot change any
    * query's rows, and every declared query orders its output. */
  def spreadWide(df: DataFrame, cap: Int = Int.MaxValue): DataFrame =
    fanOut(df, cap) {
      // MapType is not hashable in Spark — skip any column holding one
      def hashable(t: DataType): Boolean = t match {
        case _: MapType => false
        case s: StructType => s.fields.forall(f => hashable(f.dataType))
        case a: ArrayType => hashable(a.elementType)
        case _ => true
      }
      df.schema.fields.toSeq.filter(f => hashable(f.dataType))
        .map(f => column(df, f.name))
    }

  /** `df` hash-repartitioned on `keys` (round-robin when there are
    * none) to min(cap, defaultParallelism) splits when its plan yields
    * fewer; `df` itself otherwise. */
  private def fanOut(df: DataFrame, cap: Int)(keys: => Seq[Column]): DataFrame = {
    val target =
      math.min(cap, df.sparkSession.sparkContext.defaultParallelism)
    if (!planSplits(df).exists(_ < target)) df
    else keys match {
      case Seq() => df.repartition(target)
      case ks => df.repartition(target, ks: _*)
    }
  }

  /** A top-level column by its exact name: quoted, so a name holding a
    * dot or a backtick is not read as a nested-field path. */
  private def column(df: DataFrame, name: String): Column =
    df.col("`" + name.replace("`", "``") + "`")

  /** Split count of `df`'s output, read off its physical plan without
    * running a Spark job. (The `df.rdd.getNumPartitions` probe this
    * replaces executed every upstream shuffle under AQE, and the write
    * then ran the same stages again.) `None` when the output comes
    * through a shuffle whose partition count AQE sizes — a join,
    * aggregate or sort exchange: that output is already split.
    * Otherwise the leaf scans' split count, which costs a file
    * listing: through the streamed side of a broadcast join, summed
    * over a union, or as fixed by an explicit `repartition(n)` or
    * `coalesce(n)`. */
  private[graft] def planSplits(df: DataFrame): Option[Int] =
    splitsOf(df.queryExecution.executedPlan)

  private def splitsOf(plan: SparkPlan): Option[Int] = plan match {
    case a: AdaptiveSparkPlanExec => splitsOf(a.executedPlan)
    case s: ShuffleQueryStageExec => fixedSplits(s.shuffle)
    case q: QueryStageExec => splitsOf(q.plan)
    case e: ShuffleExchangeLike => fixedSplits(e)
    case r: ReusedExchangeExec => splitsOf(r.child)
    case c: CoalesceExec =>
      Some(splitsOf(c.child).fold(c.numPartitions)(math.min(_, c.numPartitions)))
    case m: InMemoryTableScanExec =>
      val cache = m.relation.cacheBuilder
      if (cache.isCachedColumnBuffersLoaded)
        Some(cache.cachedColumnBuffers.getNumPartitions)
      else splitsOf(m.relation.cachedPlan)
    case f: FileSourceScanExec =>
      // a runtime (dynamic pruning) partition filter would have to run
      // its subquery first; such a scan reads a partitioned table
      if (f.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) None
      else Some(f.inputRDD.getNumPartitions)
    case leaf if leaf.children.isEmpty =>
      Some(leaf.execute().getNumPartitions)   // local rows, range, RDD: no job
    case p =>
      val streamed = p.children.filterNot(
        _.outputPartitioning.isInstanceOf[BroadcastPartitioning])
      val counts = streamed.map(splitsOf)
      if (counts.contains(None)) None
      else if (p.isInstanceOf[UnionExec]) Some(counts.flatten.sum)
      else Some(counts.flatten.max)
  }

  // the declared partitioning, not `numPartitions`: that one builds the
  // shuffle dependency, and a range partitioner samples its input there
  private def fixedSplits(e: ShuffleExchangeLike): Option[Int] =
    if (e.shuffleOrigin == REPARTITION_BY_NUM) Some(e.outputPartitioning.numPartitions)
    else None
}
