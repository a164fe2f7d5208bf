package graft

import org.apache.spark.sql.SparkSession

/** Library front door and the ONE place a SparkSession is configured:
  * UTC session time, AQE on (Spark 4 default, pinned here explicitly),
  * shuffle parallelism sized to the actual core count instead of the 200
  * default, and the sort shuffle writer.
  *
  * Why `bypassMergeThreshold = 0`: below 200 reduce partitions Spark's
  * bypass-merge writer opens one FILE per partition per map task — an
  * O(M×R) file-creation storm that thread-dumped as the dominant blocked
  * time on latency-bound filesystems (object stores, contended local
  * disks; `cdc_cdf_maintenance` went from 25.5 to 5.6 task-seconds at
  * sf0.1). Production partition counts (>200) take the sort path anyway,
  * so this removes a small-count special case rather than tuning for
  * local mode; measured equal-or-better on every gate family.
  *
  * Why `file://` is [[NoForkLocalFileSystem]] / [[NoForkLocalFs]]: with
  * no `libhadoop` on the classpath, Hadoop's local filesystem forks a
  * `chmod` for every file, `.crc` file and directory it creates, and a
  * `readlink` for every `FileContext` rename (each streaming-checkpoint
  * commit). JFR recordings of one benchmark run each counted 2,161
  * process starts in `merge_publish` (1,440 `chmod 0644`, 715
  * `chmod 0755`) and 1,939 in `scd2_stream` (1,716 `chmod`, 208
  * `readlink` on the stream's driver thread); the bucket-write tasks
  * waited on those forks, not on the CPU. With the replacement the same
  * runs start 6 and 14 processes, none of them for a file operation (what
  * is left is Spark's `rm -rf` and `getconf` and Hadoop's one `setsid`
  * probe). It sets the
  * same modes without a fork and leaves checksums, file bytes and the
  * committer protocol as they are. Both `FileSystem` (Spark's writers and
  * readers) and `FileContext` (checkpoints) resolve `file` through these
  * two `spark.hadoop.*` entries.
  *
  * [[builder]] adds graft's native SQL functions ([[functions.GraftExtensions]]).
  * [[plain]] is the same recipe without them, and [[local]] — the
  * session of every main in this repo — builds on [[plain]]: `Verify`
  * and `Bench` run extension-less, and the
  * `er3_sql_surface`/`q142_running_sql` gates prove that
  * [[functions.GraftExtensions.registerAll]] makes the native kernels
  * available on exactly such a session.
  */
object GraftSession {

  /** The session recipe without graft's SQL extensions. */
  def plain(master: String = "local[*]",
            shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.hadoop.fs.file.impl",
        classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NoForkLocalFs].getName)
  }

  def builder(master: String = "local[*]",
              shufflePartitions: Option[Int] = None): SparkSession.Builder =
    plain(master, shufflePartitions)
      .withExtensions(new functions.GraftExtensions)

  /** The session of a main: [[plain]] on `local[SPARK_GRAFT_CPUS]` (default:
    * the core count) with as many shuffle partitions, UI off.
    */
  def local(logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = plain(s"local[$cpus]", Some(cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** S3-compatible object-store access (SURVEY §2 S6) — the Hadoop-conf
    * mirror of the reference's DuckDB `SET s3_*` block (reference
    * `example/duckdb_minio_product_scd2.sql:2-11`): explicit endpoint,
    * path-style addressing, static credentials, optional plain HTTP — the
    * MinIO/on-prem shape. Call once per session; all `s3a://` paths
    * (lake reads, [[streaming.Landing.landingSink]] targets,
    * [[streaming.ForeignLake]] roots) then resolve through it. Needs the
    * `hadoop-aws` + AWS SDK jars on the cluster classpath (not in this
    * harness — conf wiring is unit-tested, the network path is not).
    */
  def withS3a(spark: SparkSession, endpoint: String, accessKey: String,
              secretKey: String, pathStyle: Boolean = true,
              ssl: Boolean = false): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyle.toString)
    hc.set("fs.s3a.connection.ssl.enabled", ssl.toString)
    spark
  }
}
