package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.PQ

/** Index persistence (S6, `VectorIndex.h:85-101` SaveIndex/LoadIndex): the
  * reference writes a folder of binary blobs + ini — vectors, metadata,
  * metaindex, quantizer, deletes (`BKT/ParameterDefinitionList.h:7-10`); here
  * each artifact is a Parquet table and the config is JSON:
  *
  *  - `heads/`, `postings/` — the index proper (postings bucketed, below);
  *  - `deletes/` — tombstones (optional);
  *  - `meta/` — `(id, meta)` metadata table (optional, the reference's
  *    metadata + metaindex pair collapses into one keyed table);
  *  - `codebooks/` — PQ codebooks `(sub, code, center)` (optional);
  *  - `rotation/` — OPQ rotation rows `(i, row)` (optional);
  *  - `config.json` — scalars.
  *
  * Optional artifacts are DELETED from the directory when absent in a save:
  * a reused directory must end up exactly mirroring the saved state, never
  * resurrecting a prior save's tombstones or quantizer.
  *
  * `postings` is written PARTITIONED BY head_id bucket — the layout that maps
  * the reference's page-aligned SSD posting file + selective reads
  * (`ExtraFullGraphSearcher.h:1206-1290`) onto Parquet partition pruning: a
  * stage-2 probe of `nprobe` heads touches only those directories.
  */
object IndexStore {

  // fixed archive entry mtime (1980-01-01, the zip epoch floor) so
  // re-archiving identical content yields identical bytes
  private val FixedZipTime = 315532800000L

  /** `headCount` < 0 = unknown (older saves); a known count lets the loaded
    * index pick its routing level (flat vs two-level) without a count job on
    * the first search.
    */
  case class IndexConfig(
      metric: String,
      dimension: Int,
      replicaCount: Int,
      headBuckets: Int,
      headCount: Long = -1L)

  /** head_id is hash-bucketed so the partition count stays bounded at any
    * corpus scale (raw head_id partitioning would create millions of dirs).
    * The one head → bucket rule: this column and [[inBuckets]]' driver side
    * compute the same `head_id % headBuckets`.
    */
  def withBucket(postings: DataFrame, headBuckets: Int): DataFrame =
    postings.withColumn("head_bucket", (col("head_id") % headBuckets).cast("int"))

  def save(
      dir: String,
      heads: DataFrame,
      postings: DataFrame,
      deletes: Option[DataFrame],
      config: IndexConfig,
      meta: Option[DataFrame] = None,
      quantizer: Option[PQ.RotatedCodebooks] = None,
      codes: Option[DataFrame] = None): Unit = {
    val spark = heads.sparkSession
    // Checkpointed frames (postings from build, codes from quantizer attach)
    // carry origin CONSTRAINTS minted from their pre-checkpoint lineage; on
    // a repeated save of one index instance the optimizer can push such a
    // stale-attribute constraint across the posting⋈codes join and the task
    // fails binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — AnnIndexSpec
    // double-save regression). Constraint propagation buys nothing for
    // straight artifact writes — disable it for the save's duration.
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val prevCp = spark.conf.get(cpKey, "true")
    spark.conf.set(cpKey, "false")
    try saveArtifacts(spark, dir, heads, postings, deletes, config, meta, quantizer, codes)
    finally spark.conf.set(cpKey, prevCp)
  }

  private def saveArtifacts(
      spark: SparkSession,
      dir: String,
      heads: DataFrame,
      postings: DataFrame,
      deletes: Option[DataFrame],
      config: IndexConfig,
      meta: Option[DataFrame],
      quantizer: Option[PQ.RotatedCodebooks],
      codes: Option[DataFrame]): Unit = {
    heads.write.mode("overwrite").parquet(s"$dir/heads")
    // with a quantizer attached, each posting entry carries its PQ codes
    // IN the bucketed layout — the reference's quantized posting entries
    // (`SPANN/Index.h:46-59`): a loaded index serves compressed stage-2
    // straight off the partition-pruned scan, no corpus-wide codes join
    val postingRows = codes match {
      case Some(c) if !postings.columns.contains("codes") => postings.join(c, Seq("id"))
      case _ => postings // already coded (re-save of a loaded index)
    }
    // cluster by the partition column before the partitioned write (guide
    // §6, r16): without it every write task opens a file per head_bucket it
    // touches (tasks × headBuckets tiny files). Partition count pinned to
    // the bucket count — a bare repartition(col) lets AQE coalesce a small
    // input to one serial write task (see ZOrderStore.save); one task per
    // bucket writes in parallel, ~one file per bucket at any scale — the
    // write.distribution-mode=hash posture. Rows are unchanged.
    withBucket(postingRows, config.headBuckets)
      .repartition(config.headBuckets, col("head_bucket"))
      .write.mode("overwrite")
      .partitionBy("head_bucket")
      .parquet(s"$dir/postings")
    saveOrClear(spark, s"$dir/deletes", deletes)
    saveOrClear(spark, s"$dir/meta", meta)
    // `codes` also persists NORMALIZED `(id, codes)` — one row per vector —
    // as the lossless source of truth (delta quantization on add, re-save)
    saveOrClear(spark, s"$dir/codes", codes)
    saveOrClear(spark, s"$dir/codebooks", quantizer.map(q => codebookDf(spark, q.cb)))
    saveOrClear(spark, s"$dir/rotation",
      quantizer.filter(q => !isIdentity(q.rotation)).map(q => rotationDf(spark, q.rotation)))
    val json =
      s"""{"metric":"${config.metric}","dimension":${config.dimension},
         |"replicaCount":${config.replicaCount},"headBuckets":${config.headBuckets},
         |"headCount":${config.headCount}}""".stripMargin
    // config goes through the SAME scheme-aware Hadoop FS as every other
    // artifact — java.nio here would write to a bogus local path for an
    // hdfs://-or-object-store dir and load would never find it
    writeText(spark, s"$dir/config.json", json)
  }

  private def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readText(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write the artifact, or REMOVE a stale copy from a prior save into the
    * same directory — `load` detects artifacts by existence, so leftovers
    * would resurrect state the caller explicitly dropped (the stale-deletes
    * trap).
    */
  private def saveOrClear(spark: SparkSession, path: String, df: Option[DataFrame]): Unit =
    df match {
      case Some(d) => d.write.mode("overwrite").parquet(path)
      case None => deleteDir(spark, path)
    }

  /** Scheme-aware recursive delete (local FS in tests, HDFS/object store on a
    * cluster — whatever the session's Hadoop conf resolves).
    */
  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  private def codebookDf(spark: SparkSession, cb: PQ.Codebooks): DataFrame = {
    import spark.implicits._
    (for {
      s <- 0 until cb.m
      c <- cb.centers(s).indices
    } yield (s, c, cb.centers(s)(c).toSeq)).toDF("sub", "code", "center")
  }

  private def rotationDf(spark: SparkSession, rot: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    rot.toSeq.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toDF("i", "row")
  }

  private def isIdentity(rot: Array[Array[Double]]): Boolean =
    rot.zipWithIndex.forall { case (row, i) =>
      row.zipWithIndex.forall { case (x, j) => x == (if (i == j) 1.0 else 0.0) }
    }

  case class LoadedIndex(
      heads: DataFrame,
      postings: DataFrame,
      deletes: Option[DataFrame],
      config: IndexConfig,
      meta: Option[DataFrame] = None,
      quantizer: Option[PQ.RotatedCodebooks] = None,
      codes: Option[DataFrame] = None)

  def load(spark: SparkSession, dir: String): LoadedIndex = {
    val cfgText = readText(spark, s"$dir/config.json")
    def fieldOpt(name: String): Option[String] =
      s""""$name":\\s*"?([^,"}\\n]+)"?""".r.findFirstMatchIn(cfgText).map(_.group(1))
    def field(name: String): String =
      fieldOpt(name).getOrElse(sys.error(s"missing $name in $dir/config.json"))
    val cfg = IndexConfig(field("metric"), field("dimension").toInt,
      field("replicaCount").toInt, field("headBuckets").toInt,
      fieldOpt("headCount").map(_.toLong).getOrElse(-1L))
    // existence checks go through the SAME scheme-aware filesystem save's
    // deleteDir uses — java.nio would always answer "absent" for an
    // hdfs://-or-object-store index and silently drop tombstones/meta
    def opt(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spark.read.parquet(s"$dir/$name")) else None
    }
    // parquet codebooks are the primary store; a reference-layout binary
    // blob (`quantizer.bin`, docs/GettingStart.md "Quantizer File Format")
    // dropped into the directory is accepted as the fallback — an index
    // migrated from the reference serves ADC without conversion
    val quantizer =
      opt("codebooks").map(cbDf => loadQuantizer(cbDf, opt("rotation"), cfg.dimension))
        .orElse {
          val p = new org.apache.hadoop.fs.Path(s"$dir/quantizer.bin")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            val bytes =
              try {
                val buf = new java.io.ByteArrayOutputStream()
                org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
                buf.toByteArray
              } finally in.close()
            Some(LegacyFormats.decodeQuantizer(bytes, s"$dir/quantizer.bin"))
          }
        }
    LoadedIndex(
      spark.read.parquet(s"$dir/heads"),
      spark.read.parquet(s"$dir/postings"),
      opt("deletes"),
      cfg,
      opt("meta"),
      quantizer,
      opt("codes"))
  }

  /** Rebuild the in-memory quantizer from its tables; a missing rotation
    * means plain PQ (identity rotation of the config dimension).
    */
  private def loadQuantizer(
      cbDf: DataFrame,
      rotDf: Option[DataFrame],
      dim: Int): PQ.RotatedCodebooks = {
    val rows = cbDf.select(col("sub"), col("code"), col("center")).collect()
    val bySub = rows.groupBy(_.getInt(0)).toArray.sortBy(_._1)
    val centers = bySub.map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
    val m = centers.length
    val k = centers.map(_.length).max
    val dsub = centers.head.head.length
    val rot = rotDf match {
      case Some(df) =>
        df.select(col("i"), col("row")).collect().sortBy(_.getInt(0))
          .map(_.getSeq[Double](1).toArray)
      case None => Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    }
    PQ.RotatedCodebooks(rot, PQ.Codebooks(m, k, dsub, centers))
  }

  /** Single-file index (`VectorIndex.h:89` SaveIndexToFile,
    * `VectorIndex.cpp:382-430`: config blob + concatenated index blobs in
    * one binary): zip a saved index directory into ONE archive, streamed
    * through the scheme-aware Hadoop FS on both ends. Entries are stored
    * uncompressed-level (parquet blocks are already compressed) in sorted
    * path order with fixed mtimes — archive bytes depend only on the saved
    * files (the parquet writer's per-job part-file UUIDs still vary between
    * saves, so two saves of one index are equivalent but not byte-equal).
    */
  def saveToFile(spark: SparkSession, dir: String, file: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcRoot = new org.apache.hadoop.fs.Path(dir)
    val srcFs = srcRoot.getFileSystem(conf)
    val dstPath = new org.apache.hadoop.fs.Path(file)
    val out = new java.util.zip.ZipOutputStream(
      dstPath.getFileSystem(conf).create(dstPath, true))
    out.setLevel(0)
    try {
      val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      val it = srcFs.listFiles(srcRoot, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) files += st.getPath
      }
      val rootUri = srcFs.makeQualified(srcRoot).toUri
      files
        .map(p => (rootUri.relativize(srcFs.makeQualified(p).toUri).getPath, p))
        .sortBy(_._1)
        .foreach { case (rel, p) =>
          val entry = new java.util.zip.ZipEntry(rel)
          entry.setTime(FixedZipTime) // wall-clock mtimes would break determinism
          out.putNextEntry(entry)
          val in = srcFs.open(p)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          finally in.close()
          out.closeEntry()
        }
    } finally out.close()
  }

  /** Extract a [[saveToFile]] archive into `scratchDir` (any Hadoop-FS
    * scheme); returns the scratch dir for a follow-up [[load]].
    */
  def extractFile(spark: SparkSession, file: String, scratchDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(file)
    val dstRoot = new org.apache.hadoop.fs.Path(scratchDir)
    val dstFs = dstRoot.getFileSystem(conf)
    val in = new java.util.zip.ZipInputStream(
      srcPath.getFileSystem(conf).open(srcPath))
    try {
      var e = in.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          // zip-slip guard: both '..' components and absolute names escape
          // the scratch root (Path(parent, "/abs") discards the parent)
          require(!e.getName.split("/").contains("..") && !e.getName.startsWith("/"),
            s"unsafe archive entry ${e.getName}")
          val out = dstFs.create(new org.apache.hadoop.fs.Path(dstRoot, e.getName), true)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          finally out.close()
        }
        in.closeEntry()
        e = in.getNextEntry
      }
    } finally in.close()
    scratchDir
  }

  /** [[saveToFile]]'s read side: extract + [[load]]. */
  def loadFromFile(spark: SparkSession, file: String, scratchDir: String): LoadedIndex =
    load(spark, extractFile(spark, file, scratchDir))

  /** The static partition filter that keeps only the [[withBucket]]
    * buckets of `headIds` — the query-side half of the partition-pruning
    * contract: a posting scan under it reads only those bucket directories.
    */
  def inBuckets(headBuckets: Int, headIds: Seq[Long]): Column =
    col("head_bucket").isin(headIds.map(h => (h % headBuckets).toInt).distinct: _*)

  /** Narrow a posting scan to the rows of `headIds`: with `headBuckets` (the
    * frame carries the [[withBucket]] column) through [[inBuckets]] first,
    * so only the candidates' buckets are read.
    */
  def pruneToHeads(
      postings: DataFrame,
      headBuckets: Option[Int],
      headIds: Seq[Long]): DataFrame =
    headBuckets.fold(postings)(b => postings.where(inBuckets(b, headIds)))
      .where(col("head_id").isin(headIds: _*))

  // ----------------------------------------------------------------------
  // Versioned publishing (serve-while-rebuilding)
  // ----------------------------------------------------------------------
  //
  // Production serving never overwrites the index it is reading: a rebuild
  // writes the NEXT version beside the live one (`root/v<N>/`), then flips
  // one tiny pointer file (`root/_CURRENT`) via write-temp + atomic rename
  // — readers that resolved the pointer before the flip keep scanning the
  // old directory untouched; readers after it see the new version, whole.
  // The reference's refine does the same dance with its in-memory swap
  // (`BKTIndex.cpp` refine-then-swap); at 100 TB the pointer flip is the
  // only instant of coordination, and old versions stay queryable until
  // [[vacuumVersions]] reclaims them.

  private def currentPointer(root: String) =
    java.nio.file.Paths.get(root, "_CURRENT")

  /** The directory a version's artifacts live in. */
  def versionDir(root: String, version: Long): String = s"$root/v$version"

  /** Atomically flip `root/_CURRENT` to `version` (which must already be
    * fully saved under [[versionDir]]).
    */
  def publish(root: String, version: Long): Unit = {
    require(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(versionDir(root, version))),
      s"version $version is not saved under $root")
    val tmp = java.nio.file.Paths.get(root, "_CURRENT.tmp")
    java.nio.file.Files.write(tmp,
      version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, currentPointer(root),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def currentVersion(root: String): Option[Long] = {
    val p = currentPointer(root)
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  /** Load whatever `_CURRENT` points at. */
  def loadCurrent(spark: SparkSession, root: String): LoadedIndex = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    load(spark, versionDir(root, v))
  }

  /** Delete every version strictly older than the `keep` newest, never
    * touching the published one. Returns the versions removed.
    */
  def vacuumVersions(root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least one version")
    val cur = currentVersion(root)
    val dir = new java.io.File(root)
    val versions = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted
    val doomed = versions.dropRight(keep).filterNot(cur.contains)
    doomed.foreach { v =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(versionDir(root, v)))
    }
    doomed.toSeq
  }
}
