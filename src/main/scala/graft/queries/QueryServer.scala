package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The interactive query-server surface (SURVEY §3.1): named queries,
  * client sort + pagination, and a positional result index — the Spark
  * re-expression of the reference's master/slave scatter-gather
  * (Query.java:380-433), merged indexed result files
  * (PositionBasedSequenceFileIndex.java:56) and paged serving
  * (readPaginatedResults:229-320).
  *
  * Design: one cache entry per (query, sort field, direction) — the
  * reference materializes one index per sort order the same way
  * (indexedByURL/indexedByPR dirs, DatabaseIndexV2.java:763-781). The
  * cached parquet carries an explicit `pos` column (the row's global
  * rank in the requested order), so a page read is a RANGE PREDICATE on
  * `pos`: parquet row-group min/max stats prune the scan to the one or
  * two row groups containing the page — the columnar equivalent of the
  * reference's record-offset seek, O(page) not O(result).
  *
  * The global rank at cache-build time is computed WITHOUT a global
  * sort: the result is range-partitioned by the requested order (so
  * partition i holds a contiguous slice of the global order), ranked
  * locally per partition, and shifted by a prefix sum of the partition
  * sizes (nParts numbers on the driver — the same broadcast-offsets
  * shape as cu12's epoch shuffle, with sampled range boundaries in
  * place of md5 prefixes). An unaggregated result — a full per-domain
  * URL list at crawl scale — therefore never passes through one
  * partition; the reference pays the equivalent cost in its merged
  * single indexed result file (§3.1 step 8). Page serving after that
  * is distributed and index-pruned.
  */
final class QueryServer(
    private[queries] val spark: SparkSession, cacheDir: String, sfDir: String) {

  /** Client paging request (ClientQueryInfo, queryserver.jr:50-62). */
  final case class PageRequest(
      sortBy: String,
      ascending: Boolean = true,
      offset: Long = 0L,
      pageSize: Int = 25)

  // the input fingerprint folds the sfDir file listing into the cache id,
  // so a cache entry is invalidated when the data changes in place; one
  // listing per server instance (the reference pins a query session to a
  // database epoch the same way)
  private lazy val dataFingerprint: String =
    ResultCache.inputFingerprint(spark, sfDir)

  /** The materialized positional index for (query, sort, direction):
    * result rows + `pos` (1-based rank). Cached; repeat requests in any
    * page range reuse it (Query.getCanonicalId semantics).
    *
    * Hit path: the cache key needs only the query name, the request and
    * the pinned data fingerprint, so an entry this server has resolved
    * before is one map lookup — no query builder, no cache-dir probe, no
    * parquet schema inference. The builder, the sort-column check and
    * the tiebreak order run only on a miss; an unknown sort column never
    * has an entry, so it always reaches the check. Resolved entries live
    * as long as the server: their key pins `dataFingerprint`, itself
    * fixed per server instance, and a published entry is renamed into
    * place and never overwritten, so a resolved DataFrame cannot go
    * stale under a live server. */
  def index(name: String, req: PageRequest): DataFrame = entry(name, req).df

  /** A resolved cache entry; its row count is taken on first use only. */
  private final class Entry(val df: DataFrame) {
    lazy val count: Long = df.count()
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  // get, then putIfAbsent rather than computeIfAbsent: a long build must
  // not block lookups of other keys in its map bin; concurrent builds of
  // ONE key serialize on ResultCache's build lock instead
  private def entry(name: String, req: PageRequest): Entry = {
    require(Registry.queries.contains(name), s"unknown query '$name'")
    val params = Map("sort" -> req.sortBy,
      "dir" -> (if (req.ascending) "asc" else "desc"),
      "sf" -> sfDir, "data" -> dataFingerprint)
    val id = ResultCache.canonicalId(name, params)
    val hit = entries.get(id)
    if (hit != null) hit
    else {
      val df = ResultCache.getOrCompute(spark, cacheDir, name, params) {
        val base = Registry.queries(name)(spark, sfDir)
        columnsCache.putIfAbsent(name, base.columns)
        // validate the client-supplied sort field before building: spliced
        // into col(), a typo would otherwise only surface as an
        // AnalysisException deep inside the parquet write
        require(base.columns.contains(req.sortBy),
          s"unknown sort column '${req.sortBy}' for query '$name'; " +
            s"expected one of ${base.columns.mkString(", ")}")
        // tiebreak on every remaining column so the rank is total and the
        // page boundaries are deterministic under re-materialization
        val ties = base.columns.filter(_ != req.sortBy).sorted.map(col)
        val order = (col(req.sortBy) +: ties)
          .map(c => if (req.ascending) c.asc else c.desc)
        QueryServer.withGlobalPos(base, order)
      }
      val fresh = new Entry(df)
      val prev = entries.putIfAbsent(id, fresh)
      if (prev == null) fresh else prev
    }
  }

  // column schemas discovered so far, one entry per query name (sfDir is
  // fixed per server instance, so the name alone keys it)
  private val columnsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** Fail fast on an unknown query name or sort column — the synchronous
    * validation an async submit needs before handing the expensive part
    * to a worker. Column discovery builds the query's ANALYZED plan
    * once per name under [[graft.ops.Iterative.planOnly]], so graft
    * materialization points (eager checkpoints in the dedupe/LM
    * builders) do NOT execute on the caller's thread; repeat validates
    * are a map lookup. Builders with their own build-time actions
    * (iterative convergence loops, staging writes) still pay that cost
    * on first contact — same as any first page request. */
  def validate(name: String, req: PageRequest): Unit = {
    require(Registry.queries.contains(name), s"unknown query '$name'")
    val cols = columnsCache.computeIfAbsent(name,
      _ => graft.ops.Iterative.planOnly {
        Registry.queries(name)(spark, sfDir).columns
      })
    require(cols.contains(req.sortBy),
      s"unknown sort column '${req.sortBy}' for query '$name'; " +
        s"expected one of ${cols.mkString(", ")}")
  }

  /** One page: a range predicate on `pos`, pruned to the row groups
    * containing [offset+1, offset+pageSize] by parquet min/max stats. On
    * a resolved entry this is the page's only Spark job. The filter
    * already bounds the page to pageSize rows, so `limit` changes no
    * result; it lets Spark plan the sort as TakeOrderedAndProject, which
    * sorts the page in the scan's tasks, instead of a global sort that
    * samples range bounds in a job of its own and shuffles the page. */
  def page(name: String, req: PageRequest): DataFrame =
    index(name, req)
      .filter(col("pos") > req.offset && col("pos") <= req.offset + req.pageSize)
      .orderBy(col("pos"))
      .limit(req.pageSize)

  /** Total result size: counted once per resolved entry (a parquet
    * count, row-group metadata only), then served from memory. */
  def resultCount(name: String, req: PageRequest): Long =
    entry(name, req).count
}

object QueryServer {

  /** `df` + a `pos` column holding each row's 1-based global rank under
    * `order`, computed WITHOUT a global sort: range-partition by the
    * order (partition i is a contiguous slice of the global order), rank
    * locally — the low 33 bits of monotonically_increasing_id are the
    * record number within a partition (documented layout), so after the
    * range shuffle and per-partition sort they ARE the local rank — and
    * shift by a prefix sum of the ≤ nParts partition sizes (driver-side
    * metadata, never a data-sized window or collect). Checkpointed once
    * so the size count and the offset join read the same partition
    * layout (range boundaries are sampled, so an unmaterialized plan
    * could draw different boundaries per branch). */
  private[graft] def withGlobalPos(df: DataFrame,
      order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ordered = df
      .repartitionByRange(nParts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id().cast("long"))
      .withColumn("_local",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .transform(graft.ops.Iterative.materialize)
    val sizes = ordered.groupBy(col("_pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // the local rank lives in the id's low 33 bits; a partition beyond
    // that would overflow it silently. The sizes are already on the
    // driver, so the invariant is checked for free (a >8.5B-row range
    // partition means nParts was catastrophically misconfigured anyway)
    require(sizes.forall(_._2 < (1L << 33)),
      s"range partition exceeds 2^33 rows; raise shuffle partitions " +
        s"(sizes: ${sizes.filter(_._2 >= (1L << 33)).take(3).mkString(", ")})")
    val offs = sizes.scanLeft((-1L, 0L, 0L)) { case ((_, off, n0), (pid, n)) =>
      (pid, off + n0, n)
    }.drop(1).map { case (pid, off, _) => (pid, off) }
    import spark.implicits._
    ordered
      .join(broadcast(offs.toSeq.toDF("_pid", "_off")), "_pid")
      .withColumn("pos", col("_off") + col("_local") + 1L)
      .drop("_pid", "_local", "_off")
  }
}
