package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Small-files compaction — the table-maintenance pass every long-lived
  * ingest dataset needs: per-iteration ForEach appends and over-parallel
  * writes each leave a file per task, and at 100 TB a scan's cost becomes
  * listing/open dominated long before it is byte dominated. Compaction
  * rewrites a parquet directory into ~`targetFileBytes` files and swaps
  * it in place.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API
  * resolved from the dataset's own path — the same abstraction Spark's
  * readers use — so the pass runs unchanged against `file:`, `hdfs:`,
  * or an object store's connector. STORE CONTRACT: the publish step is
  * two directory renames, which are atomic on HDFS and local
  * filesystems; object-store connectors (s3a and friends) implement
  * rename as copy+delete, so there the swap is NOT atomic and a
  * concurrent reader can observe a partial generation. On such stores
  * run compaction inside the table format's own commit protocol, or
  * publish by the write-new-generation + pointer-swap convention
  * (write to a fresh `gen-N` directory and flip a small pointer file /
  * catalog entry instead of renaming in place).
  *
  * Safety contract (each clause guards a dataset shape this repo itself
  * produces):
  *  - reads with `mergeSchema` so a schema-evolved dataset (q58 shape)
  *    keeps every batch's columns — a single-footer schema would silently
  *    drop the later columns and the swap would destroy the only copy;
  *  - REFUSES a streaming-sink directory (`_spark_metadata` present):
  *    the sink's transaction log defines which files are committed, and a
  *    rewrite would orphan it — compact streaming output only after it
  *    graduates out of the sink dir;
  *  - preserves Hive partition layout: discovered `k=v` directory levels
  *    are re-written with `partitionBy` on the same columns, so planning-
  *    time pruning (the q56 contract) and sub-path readers keep working.
  *
  * Shape: size the output file count from the CURRENT on-disk bytes (a
  * directory listing, no data job). Unpartitioned data takes a plain
  * `repartition(n)` for even output sizes (a round-robin exchange —
  * coalesce would skip the shuffle but inherits whatever skew the input
  * files carry). Hive-partitioned data must NOT round-robin: a random
  * shuffle puts rows of every partition value in nearly every output
  * task, and `partitionBy` then fans out up to n × |partitions| files —
  * compaction would INCREASE the file count it exists to fix. Instead
  * rows shuffle on (partition columns + a salt), where each partition
  * value's salt modulus is sized from ITS on-disk bytes (from the same
  * listing) — so a 10 GB partition gets ~80 files and a 1 MB partition
  * exactly one, and total output stays ~bytes/target.
  *
  * The rewrite is published with the same rename idiom as
  * [[Staged]] publication so a reader on a rename-atomic store sees
  * either the old files or the new, never a half-written mix. Between
  * the two renames there is a window where the path does not exist
  * (readers get ENOENT-and-retry, never partial data); if the second
  * rename fails the original generation is MOVED BACK, so a crash
  * cannot strand the only copy under the `.old-*` name. Root-level
  * underscore sidecar files (`_SUCCESS`, custom markers) ARE carried
  * into the new generation — external tooling keys on them — with
  * deliberate exceptions: `_metadata` and `_common_metadata` (they
  * describe the REPLACED files' row groups / footer schema; a
  * mergeSchema rewrite can widen the schema, so carrying either forward
  * would be a stale lie) and dot-prefixed files (local-FS `.crc`
  * checksums name specific data files).
  */
object Compaction {

  final case class CompactionStats(
      filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long)

  /** Data files only: hidden/underscore names are pruned at EVERY level
    * (Spark never reads under `_temporary`, `.compact-*` leftovers, etc.
    * — counting them would inflate sizing and, worse, let the swap delete
    * rows the rewrite never carried). */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    def hidden(name: String) = name.startsWith(".") || name.startsWith("_")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
      else Seq(st)
    walk(fs.getFileStatus(dir)).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** `file`'s path components below `dir` (both already qualified by the
    * same [[FileSystem]], so prefix arithmetic on the URI paths is
    * exact). */
  private def relParts(dir: Path, file: Path): Seq[String] = {
    val base = dir.toUri.getPath.stripSuffix("/")
    val full = file.toUri.getPath
    require(full.startsWith(base + "/"),
      s"$file is not under $dir — listing and dataset disagree")
    full.stripPrefix(base + "/").split("/").toSeq
  }

  /** Hive partition columns from the directory layout: each nested level
    * of `k=v`-named directories contributes its key, outermost first. */
  private def partitionColumns(fs: FileSystem, dir: Path): Seq[String] = {
    val KV = "([^=/]+)=.*".r
    def level(d: Path): Seq[String] = {
      val dirs = fs.listStatus(d).filter(_.isDirectory)
      dirs.map(_.getPath.getName).collectFirst { case KV(k) => k } match {
        case Some(k) =>
          val child = dirs.find(_.getPath.getName.startsWith(s"$k="))
          k +: child.map(c => level(c.getPath)).getOrElse(Nil)
        case None => Nil
      }
    }
    level(dir)
  }

  /** Compact the parquet dataset at `path` toward `targetFileBytes` per
    * file. No-op (returns current stats) when the dataset already has no
    * more than one file over target — rewriting would churn bytes for
    * nothing. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionStats = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val conf = spark.sessionState.newHadoopConf()
    // qualify once: a trailing slash in `path` must not move the
    // scratch/old siblings INSIDE the dataset (move-into-self), and all
    // later prefix arithmetic assumes the qualified spelling
    val raw = new Path(path)
    val fs = raw.getFileSystem(conf)
    val dir = fs.makeQualified(raw)
    require(!fs.exists(new Path(dir, "_spark_metadata")),
      s"$dir is a streaming sink (_spark_metadata): compacting would orphan " +
        "the sink's transaction log; move the data out of the sink first")
    val before = parquetFiles(fs, dir)
    val bytesBefore = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytesBefore.toDouble / targetFileBytes).toInt)
    if (before.length <= nOut)
      return CompactionStats(before.length, before.length, bytesBefore, bytesBefore)
    val partCols = partitionColumns(fs, dir)
    // a mixed/partial layout (data files above the detected partition
    // depth, or non-`k=v` directory components) must fail with a CLEAR
    // message before any rewrite, not an opaque index error mid-sizing —
    // and never a silent fall-back that would re-layout the dataset and
    // destroy planning-time pruning for its readers
    if (partCols.nonEmpty) {
      val offenders = before.filter { f =>
        val rel = relParts(dir, f.getPath)
        rel.length != partCols.size + 1 ||
          partCols.indices.exists(i => !rel(i).contains("="))
      }
      require(offenders.isEmpty,
        s"inconsistent partition layout under $dir: detected partition " +
          s"columns ${partCols.mkString("(", ", ", ")")} but " +
          s"${offenders.size} data file(s) sit outside that k=v depth, " +
          s"e.g. ${offenders.take(3).map(f => relParts(dir, f.getPath).mkString("/")).mkString(", ")}")
    }
    // mergeSchema: a schema-evolved dataset (q58 shape) must keep every
    // batch's columns through the rewrite
    val df = spark.read.option("mergeSchema", "true").parquet(dir.toString)
    val scratch = new Path(dir.getParent,
      dir.getName + ".compact-" + java.util.UUID.randomUUID)
    val out =
      if (partCols.isEmpty) df.repartition(nOut)
      else {
        // per-partition-value output counts, from the listing only: the
        // k=v components of each file's relative path (hive-unescaped),
        // bytes summed per value tuple
        val hiveNull = "__HIVE_DEFAULT_PARTITION__"
        val perPart: Map[Seq[String], Long] = before.groupBy { f =>
          val rel = relParts(dir, f.getPath)
          partCols.indices.map(i =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(rel(i).split("=", 2)(1)))
        }.view.mapValues(_.map(_.getLen).sum).toMap
        val pvCols = partCols.indices.map(i => s"__graft_pv_$i")
        val rows = perPart.toSeq.map { case (vals, bytes) =>
          Row.fromSeq(vals :+ bytes)
        }
        val schema = StructType(
          pvCols.map(StructField(_, StringType)) :+ StructField("__graft_bytes", LongType))
        val sizingRaw = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        // canonicalize through the DATASET's own types: the raw directory
        // text is cast to df's type-INFERRED partition column type —
        // `month=07` infers int 7, and raw "07" ≠ "7" would miss the
        // join, collapse __graft_nout to 1, and push a large partition
        // through a single reducer. The cast happens BEFORE a groupBy on
        // the typed values: two raw spellings of one logical value
        // (month=07 beside month=7 — Spark reads them as ONE partition)
        // must collapse to ONE sizing row, or the left join below would
        // match data rows twice and the rewrite would duplicate them.
        // Bytes sum across merged spellings. Null-safe `<=>` so the hive
        // default-partition marker meets the NULL value it stands for. (A
        // text the cast can't parse but inference somehow could degrades
        // to nout=1 for that value — correct data, single-file output.)
        val typedPv = partCols.zip(pvCols).map { case (k, pv) =>
          when(sizingRaw(pv) === hiveNull, lit(null))
            .otherwise(sizingRaw(pv)).cast(df.schema(k).dataType).as(pv)
        }
        val sizing = sizingRaw
          .groupBy(typedPv: _*)
          .agg(sum(col("__graft_bytes")).as("__graft_bytes"))
          .withColumn("__graft_nout",
            greatest(lit(1L),
              ceil(col("__graft_bytes").cast(org.apache.spark.sql.types.DoubleType)
                / targetFileBytes).cast(LongType)))
          .drop("__graft_bytes")
        val joinCond = partCols.zip(pvCols).map { case (k, pv) =>
          df(k) <=> sizing(pv)
        }.reduce(_ && _)
        // shuffle on (partition cols, salt): each partition value spreads
        // over exactly its own salt-modulus worth of tasks, so partitionBy
        // emits ~ceil(partitionBytes/target) files per value, never
        // nOut × |partitions|
        val salted = df.join(broadcast(sizing), joinCond, "left")
          .withColumn("__graft_salt",
            pmod(monotonically_increasing_id(), coalesce(col("__graft_nout"), lit(1L))))
          .drop("__graft_nout").drop(pvCols: _*)
        // upper bound on the output partition count, from the raw (un-
        // merged) listing — overestimating when spellings merged just
        // leaves a few empty reducers; the file count itself is governed
        // by the per-value salt moduli above
        val totalOut = math.max(nOut,
          perPart.valuesIterator.map(b =>
            math.max(1L, math.ceil(b.toDouble / targetFileBytes).toLong)).sum.toInt)
        salted
          .repartition(totalOut, (partCols.map(col) :+ col("__graft_salt")): _*)
          .drop("__graft_salt")
      }
    val writer = out.write
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(scratch.toString)
    // carry root-level underscore sidecars (`_SUCCESS`, custom completion
    // markers) into the new generation BEFORE the swap — external tooling
    // keys on them and the rewrite must not eat them. Deliberately
    // skipped: `_metadata` AND `_common_metadata` (both describe the
    // REPLACED files — row-group index and footer schema respectively; a
    // mergeSchema rewrite can widen the schema, so carrying either
    // forward would be a stale lie), dot-files (local-FS `.crc`
    // checksums name specific data files), and directories (`_temporary`
    // debris from crashed writers has no place in a fresh generation).
    fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("_") &&
        f.getPath.getName != "_metadata" && f.getPath.getName != "_common_metadata")
      .foreach { f =>
        FileUtil.copy(fs, f.getPath, fs, new Path(scratch, f.getPath.getName),
          /* deleteSource = */ false, /* overwrite = */ true, conf): Unit
      }
    // swap: old dir aside, scratch in, old deleted — on a rename-atomic
    // store readers see one complete generation or the other (see the
    // object-store caveat in the class doc). Hadoop rename signals
    // failure by RETURNING false as often as by throwing — both paths
    // must restore.
    def rename(from: Path, to: Path): Unit =
      require(fs.rename(from, to), s"rename $from -> $to failed")
    val old = new Path(dir.getParent, dir.getName + ".old-" + java.util.UUID.randomUUID)
    rename(dir, old)
    try rename(scratch, dir)
    catch {
      case t: Throwable =>
        // the second rename failed: restore the original generation so a
        // crash here cannot strand the only copy under the .old-* name
        try rename(old, dir)
        catch { case r: Throwable => t.addSuppressed(r) }
        fs.delete(scratch, true): Unit
        throw t
    }
    fs.delete(old, true): Unit
    val after = parquetFiles(fs, dir)
    CompactionStats(before.length, after.length, bytesBefore,
      after.map(_.getLen).sum)
  }
}
