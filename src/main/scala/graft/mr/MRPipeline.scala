package graft.mr

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** The reference's fluent MapReduce API (SURVEY.md §2A, operators A1-A11)
  * re-expressed over Spark's execution model.
  *
  * Reference surface: `ServerlessMR().config(c).map(f).combine(c)
  * .shuffle(p).reduce(r, n).finish()` / `.merge(ids)`
  * (reference: `src/python/serverless_mr/main.py:104-215`). There, every
  * stage is a Lambda fleet shuffling JSON through S3 with DynamoDB
  * coordination; here each verb composes onto an `RDD[(K, V)]` and Spark's
  * scheduler/shuffle replace the whole coordination layer (SURVEY §2A
  * A5, A12, A18-A21).
  *
  * Semantics preserved exactly (they matter for parity — SURVEY §2A notes):
  *  - `map` is flatMap-shaped: 0..n output pairs per input pair
  *    (reference `user_functions/functions.py:16-33`).
  *  - `reduce` sees each key once with ALL its values, and keys arrive in
  *    ascending sorted order within a partition (reference sorts each
  *    reduce partition before the group scan, `job/reduce_handler.py:122`).
  *    We get that via `repartitionAndSortWithinPartitions` — an EXTERNAL
  *    sort that spills, where the reference holds the whole partition in
  *    Lambda memory; values are then grouped streaming, so a partition
  *    never materializes (only one key group at a time does).
  *  - `combine` runs map-side before the shuffle (reference
  *    `job/map_shuffle_handler.py:145-162`); when absent, `reduce`'s own
  *    function is used as the combiner ONLY if the caller marks it
  *    algebraic via `reduceWithCombine` — silently reusing a non-algebraic
  *    reducer as a combiner (the reference's default, `main.py:155-160`)
  *    is unsound and we do not copy it.
  *  - `shuffle(p)` honors an exact user partition function `(key, n) → bin`
  *    (reference `default/partition.py:4-12`) via a custom RDD
  *    `Partitioner`; the default is Spark's `HashPartitioner` (same intent
  *    as the reference's sha256-mod; `Partitioners.sha256Mod` reproduces
  *    the reference's placement bit-exactly when needed).
  *  - `merge` = UNION ALL of pipeline outputs (reference `main.py:178-180`).
  */
final class MRPipeline[K, V] private (
    val spark: SparkSession,
    val rdd: RDD[(K, V)],
    partitionFn: Option[(K, Int) => Int],
)(implicit kt: ClassTag[K], vt: ClassTag[V]) {

  /** A1: flatMap-shaped map stage. Consecutive maps fuse into one Spark
    * stage (no S3 hop between them — reference ran each as a Lambda fleet,
    * SURVEY §2A A5). */
  def map[K2: ClassTag, V2: ClassTag](
      f: (K, V) => IterableOnce[(K2, V2)]): MRPipeline[K2, V2] =
    new MRPipeline(spark, rdd.flatMap { case (k, v) => f(k, v) }, None)

  /** A2: attach an exact user partition function for the next reduce. */
  def shuffle(p: (K, Int) => Int): MRPipeline[K, V] =
    new MRPipeline(spark, rdd, Some(p))

  /** A4 without combiner: shuffle to `numReducers` partitions, sort by key
    * within each, call `r` once per key with all values (in arrival order,
    * like the reference's stable sort). */
  def reduce[K2: ClassTag, V2: ClassTag](
      r: (K, Seq[V]) => IterableOnce[(K2, V2)],
      numReducers: Int)(implicit ord: Ordering[K]): MRPipeline[K2, V2] =
    reduceImpl(None, r, numReducers)

  /** A3+A4: with an explicit map-side combiner (pre-aggregation before the
    * shuffle; cuts shuffle bytes like the reference's `useCombine` path). */
  def combineReduce[K2: ClassTag, V2: ClassTag](
      c: (K, Seq[V]) => IterableOnce[(K, V)],
      r: (K, Seq[V]) => IterableOnce[(K2, V2)],
      numReducers: Int)(implicit ord: Ordering[K]): MRPipeline[K2, V2] =
    reduceImpl(Some(c), r, numReducers)

  /** Reference default: reuse the reducer as its own combiner. Only valid
    * for algebraic reducers emitting (K, V) — the caller asserts that by
    * choosing this method. */
  def reduceWithCombine(
      r: (K, Seq[V]) => IterableOnce[(K, V)],
      numReducers: Int)(implicit ord: Ordering[K]): MRPipeline[K, V] =
    reduceImpl(Some(r), r, numReducers)

  private def reduceImpl[K2: ClassTag, V2: ClassTag](
      combiner: Option[(K, Seq[V]) => IterableOnce[(K, V)]],
      r: (K, Seq[V]) => IterableOnce[(K2, V2)],
      numReducers: Int)(implicit ord: Ordering[K]): MRPipeline[K2, V2] = {
    val pre: RDD[(K, V)] = combiner match {
      case None => rdd
      case Some(c) =>
        // Map-side combine with a BOUNDED buffer: group locally, but
        // flush whenever maxBuffered values accumulate — a partition
        // whose key cardinality approaches its row count can no longer
        // OOM the task (the reference's mapper buffered its whole output;
        // Spark's own map-side combine spills the same way). Chunked
        // application is exactly as sound as having a combiner at all:
        // the reduce re-groups every combined run, so any ALGEBRAIC
        // combiner (the only kind a combiner may be) yields identical
        // final results — spec-asserted with a tiny flush threshold.
        // must be positive: <= 0 would spin refill() forever
        val maxBuffered = spark.conf.getOption("graft.mr.combine.maxBuffered")
          .map(graft.ConfValue.positiveInt("graft.mr.combine.maxBuffered", _))
          .getOrElse(1 << 20)
        rdd.mapPartitions { it =>
          new Iterator[(K, V)] {
            private var out: Iterator[(K, V)] = Iterator.empty
            private def refill(): Unit = {
              val groups = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[V]]
              var buffered = 0
              while (it.hasNext && buffered < maxBuffered) {
                val (k, v) = it.next()
                groups.getOrElseUpdate(k, mutable.ArrayBuffer.empty[V]) += v
                buffered += 1
              }
              out = groups.iterator.flatMap { case (k, vs) => c(k, vs.toSeq) }
            }
            override def hasNext: Boolean = {
              while (!out.hasNext && it.hasNext) refill()
              out.hasNext
            }
            override def next(): (K, V) = {
              if (!hasNext) throw new NoSuchElementException("empty combine")
              out.next()
            }
          }
        }
    }
    val partitioner: Partitioner = partitionFn match {
      case Some(p) => Partitioners.fromFunction(p, numReducers)
      case None    => new HashPartitioner(numReducers)
    }
    // External shuffle sort (spills to disk), then STREAMING group scan:
    // only one key's value buffer is live at a time.
    val sorted = new org.apache.spark.rdd.OrderedRDDFunctions[K, V, (K, V)](pre)
      .repartitionAndSortWithinPartitions(partitioner)
    val out = sorted.mapPartitions { it =>
      new GroupRunIterator(it, ord).flatMap { case (k, vs) => r(k, vs) }
    }
    new MRPipeline(spark, out, None)
  }

  /** A7: UNION ALL with other pipelines' outputs. A partition function
    * attached via shuffle() stays attached for the following reduce. */
  def merge(others: MRPipeline[K, V]*): MRPipeline[K, V] =
    new MRPipeline(
      spark,
      others.foldLeft(rdd)((acc, p) => acc.union(p.rdd)),
      partitionFn)

  /** A6: seal the pipeline — the value itself is the handle (Spark is
    * lazy; there is no coordinator to register with). */
  def finish(): MRPipeline[K, V] = this

  /** Materialize as a two-column DataFrame (`key`, `value`). */
  def toDF(implicit enc: Encoder[(K, V)]): DataFrame =
    spark.createDataset(rdd)(enc).toDF("key", "value")

  /** Typed view. */
  def toDS(implicit enc: Encoder[(K, V)]): Dataset[(K, V)] =
    spark.createDataset(rdd)(enc)

  /** A9: run — collect pairs (small outputs only; prefer write/toDF). */
  def collectPairs(): Array[(K, V)] = rdd.collect()
}

object MRPipeline {

  /** A8: build the input stage from a per-pipeline config map — the
    * reference's `ServerlessMR.config({...})` + driver merge
    * (`main.py:116-118`, `driver/driver.py:240-251`). Recognized keys:
    *
    *   - `input.format`: `wholetext` (reference S3 semantics: one
    *     (path, contents) pair per object), `text` (one (path, line) pair
    *     per line), `parquet.kv` (first two columns stringified), or `kv`
    *     — the REAL DynamoDB-source analog: reads through the `graft-kv`
    *     DSv2 connector (projection pushdown, segmented parallel scan;
    *     reference `driver/driver.py:240-251` routing
    *     `inputSourceType: dynamodb` to
    *     `input_handler_dynamodb.py:135-213`)
    *   - `input.path`: source location (`input.table` for `kv`)
    */
  def fromConfig(spark: SparkSession,
      conf: Map[String, String]): MRPipeline[String, String] = {
    def path = conf.getOrElse("input.path",
      throw new IllegalArgumentException("config requires input.path"))
    conf.getOrElse("input.format", "wholetext") match {
      case "wholetext" => wholeText(spark, path)
      case "text" =>
        import spark.implicits._
        fromDataset(spark.read.textFile(path)
          .select(org.apache.spark.sql.functions.input_file_name(),
            org.apache.spark.sql.functions.col("value"))
          .as[(String, String)])
      case "parquet.kv" =>
        import spark.implicits._
        val df = spark.read.parquet(path)
        // col() refs (not selectExpr string splicing) — column names with
        // spaces/reserved words stay valid
        fromDataset(df.select(
          org.apache.spark.sql.functions.col(df.columns(0)).cast("string"),
          org.apache.spark.sql.functions.col(df.columns(1)).cast("string"))
          .as[(String, String)])
      case "kv" =>
        import spark.implicits._
        val table = conf.getOrElse("input.table",
          throw new IllegalArgumentException("input.format=kv requires input.table"))
        val df = spark.read.format("graft-kv").option("table", table).load()
        // key column first (the reference streams (key, item) pairs,
        // `input_handler_dynamodb.py:168-213`). A two-column table keeps
        // its single attribute as the raw value; a wider item is
        // serialized whole as JSON — the reference hands the mapper the
        // FULL projected item dict, never a silently truncated one.
        val keyCol = graft.sources.kv.KvStore.data(table).keyCol
        val attrs = df.columns.filter(_ != keyCol)
        val valueCol = attrs match {
          case Array() => org.apache.spark.sql.functions.col(keyCol).cast("string")
          case Array(only) => org.apache.spark.sql.functions.col(only).cast("string")
          case many => org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(
              many.map(org.apache.spark.sql.functions.col).toSeq: _*))
        }
        fromDataset(df.select(
          org.apache.spark.sql.functions.col(keyCol).cast("string"), valueCol)
          .as[(String, String)])
      case other =>
        throw new IllegalArgumentException(s"unknown input.format: $other")
    }
  }

  /** A13-analog: one (path, wholeTextContents) pair per file — the
    * reference's S3 whole-object read semantics
    * (`data_sources/input_handler_s3.py:66-70`). */
  def wholeText(spark: SparkSession, path: String,
      minPartitions: Int = 8): MRPipeline[String, String] =
    new MRPipeline(spark,
      spark.sparkContext.wholeTextFiles(path, minPartitions), None)

  /** Start from any pair Dataset. */
  def fromDataset[K: ClassTag, V: ClassTag](
      ds: Dataset[(K, V)]): MRPipeline[K, V] =
    new MRPipeline(ds.sparkSession, ds.rdd, None)

  /** Start from a pair RDD. */
  def fromPairs[K: ClassTag, V: ClassTag](
      spark: SparkSession, rdd: RDD[(K, V)]): MRPipeline[K, V] =
    new MRPipeline(spark, rdd, None)
}

/** Groups consecutive equal keys of a key-sorted iterator into
  * (key, values) runs without materializing the partition — the streaming
  * equivalent of the reference's linear group scan
  * (`job/reduce_handler.py:122-155`). Run boundaries use the SAME
  * Ordering the sort used (ord.equiv) — universal == can disagree with
  * it (NaN keys, Array keys, case-insensitive orderings) and would split
  * one key's values across reducer calls. */
private[mr] final class GroupRunIterator[K, V](it: Iterator[(K, V)],
    ord: Ordering[K]) extends Iterator[(K, Seq[V])] {
  private val buf = it.buffered
  override def hasNext: Boolean = buf.hasNext
  override def next(): (K, Seq[V]) = {
    val k = buf.head._1
    val vs = mutable.ArrayBuffer.empty[V]
    while (buf.hasNext && ord.equiv(buf.head._1, k)) vs += buf.next()._2
    (k, vs.toSeq)
  }
}

/** Partition-function adapters (SURVEY §2A A10/A11). */
object Partitioners {

  /** Wrap an exact user `(key, numBins) → bin` function (reference A2). */
  def fromFunction[K](p: (K, Int) => Int, n: Int): Partitioner =
    new Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = {
        val bin = p(key.asInstanceOf[K], n) % n
        if (bin < 0) bin + n else bin
      }
    }

  /** Bit-exact reproduction of the reference default partitioner:
    * `int(sha256(str(key)), 16) % num_bins`
    * (reference `default/partition.py:4-12`). Placement only ever affects
    * file layout, never query results. */
  def sha256Mod(key: String, numBins: Int): Int = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8"))
    new java.math.BigInteger(1, d)
      .mod(java.math.BigInteger.valueOf(numBins.toLong)).intValue()
  }

  /** Reference range partitioner for keys in [0,1):
    * `int(float(key) * num_bins)` (`performance_functions/range_partition.py`). */
  def unitRange(key: Double, numBins: Int): Int = {
    val b = (key * numBins).toInt
    math.min(math.max(b, 0), numBins - 1)
  }
}
