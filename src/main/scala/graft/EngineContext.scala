package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{ExecutionContext, Future}
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The engine's user-facing context: catalog + SQL entry point + explain +
 * async query API + config surface.
 *
 * Re-expresses the reference's `BlazingContext` API
 * (reference: pyblazing/pyblazing/apiv2/context.py — create_table :2079,
 * sql :3071, explain :1842, drop_table/list_tables/describe_table :2079-2652,
 * async token API :3071-3345, config defaults :1242-1289) on top of a
 * SparkSession. Where the reference carries its own Calcite frontend and a
 * C++ relational-algebra executor, here parsing/optimization/execution are
 * Catalyst + Tungsten; this class is deliberately a thin catalog/dialect
 * shim, per SURVEY.md §7.1.
 *
 * ==Session-wide side effect==
 * Constructing an EngineContext sets
 * `spark.sql.parser.escapedStringLiterals=true` on the GIVEN session and
 * the setting outlives the context: every consumer of that session gets
 * standard-SQL string-literal parsing (backslash is an ordinary
 * character) from that point on. This is deliberate — the reference's
 * BlazingContext owns its process-wide SQL dialect the same way — but a
 * host application that shares one session between this engine and
 * Spark-dialect SQL should hand the engine `spark.newSession()` (shared
 * catalog+executors, isolated conf) instead of its primary session.
 */
class EngineContext(val spark: SparkSession) {

  // The engine's SQL surface is the reference's Calcite dialect, where
  // string literals are STANDARD SQL: a backslash is an ordinary
  // character ('\d+' is the 3-char regex \d+). Spark's default parser
  // instead processes backslash escapes ('\d' parses to 'd' — silently
  // corrupting every regex pattern and windows path a reference query
  // carries). escapedStringLiterals is Spark's own switch for exactly
  // this semantics; DialectCompatSpec executes pattern/replacement
  // fidelity end-to-end under it.
  spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")

  // ---------------------------------------------------------------- catalog

  /** Source metadata kept per registered table (≈ reference Schema objects,
    * engine/src/io/Schema.h). */
  final case class TableInfo(
      name: String,
      format: String,
      paths: Seq[String],
      options: Map[String, String])

  private val tables = new ConcurrentHashMap[String, TableInfo]()

  // ------------------------------------------------------------ filesystems

  /** alias → base URI for registered filesystems (reference: bc.s3 /
    * bc.hdfs / bc.gs / bc.localfs register a named prefix usable in table
    * paths — context.py:1695-1827; io/src/FileSystem registers the
    * concrete clients). On Spark the concrete client is the Hadoop
    * connector, so registration = alias mapping + hadoop conf keys. */
  private val filesystems = new ConcurrentHashMap[String, String]()

  private def hadoopSet(kv: (String, String)*): Unit =
    kv.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }

  /** Register an S3 bucket under `alias` (reference context.py:1744-1793:
    * bucket_name, access_key_id, secret_key, session_token,
    * endpoint_override). Maps onto the s3a connector's conf keys. */
  def s3(alias: String, bucketName: String, options: Map[String, String] = Map.empty): Unit = {
    options.get("access_key_id").foreach(v => hadoopSet("fs.s3a.access.key" -> v))
    options.get("secret_key").foreach(v => hadoopSet("fs.s3a.secret.key" -> v))
    options.get("session_token").foreach(v => hadoopSet("fs.s3a.session.token" -> v))
    options.get("endpoint_override").foreach(v => hadoopSet("fs.s3a.endpoint" -> v))
    filesystems.put(alias, s"s3a://$bucketName")
  }

  /** Register an HDFS namenode under `alias` (reference context.py:
    * 1703-1743: host, port, user, kerb_ticket). `kerbTicket` is a path to a
    * kerberos ticket cache; it flips the Hadoop client to kerberos auth and
    * points it at the ticket — config mapping only, exactly what the
    * reference's registration does (the live KDC handshake belongs to the
    * Hadoop client at read time). */
  def hdfs(
      alias: String,
      host: String,
      port: Int,
      user: String = "",
      kerbTicket: String = ""): Unit = {
    if (user.nonEmpty) hadoopSet("hadoop.user.name" -> user)
    if (kerbTicket.nonEmpty) hadoopSet(
      "hadoop.security.authentication" -> "kerberos",
      "hadoop.security.kerberos.ticket.cache.path" -> kerbTicket)
    filesystems.put(alias, s"hdfs://$host:$port")
  }

  /** Register a Google Cloud Storage bucket under `alias` (reference
    * context.py:1794-1827: project_id, bucket_name). */
  def gs(alias: String, projectId: String, bucketName: String): Unit = {
    hadoopSet("fs.gs.project.id" -> projectId)
    filesystems.put(alias, s"gs://$bucketName")
  }

  /** Register a local directory under `alias` (reference localfs). */
  def localfs(alias: String, root: String): Unit =
    filesystems.put(alias, s"file://$root")

  def listFilesystems(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    filesystems.asScala.toMap
  }

  /** Formatted registry, mirroring bc.show_filesystems (context.py:1828). */
  def showFilesystems(): String =
    listFilesystems().toSeq.sorted.map { case (a, b) => s"$a -> $b" }.mkString("\n")

  /** Resolve `alias://rest` table paths against registered filesystems;
    * unregistered schemes (s3a://, hdfs://, file://, plain paths) pass
    * through untouched. */
  private def resolvePath(path: String): String = path.split("://", 2) match {
    case Array(alias, rest) if filesystems.containsKey(alias) =>
      s"${filesystems.get(alias)}/$rest"
    case _ => path
  }

  /** Register a table from files. Format inferred from the file extension
    * when not given (reference: context.py:983-990 sniffs extensions).
    * Supported formats mirror the reference's io::DataType
    * (engine/src/io/DataType.h:7-19): parquet, orc, csv, json. Wildcards
    * in paths resolve natively (Spark glob support). */
  def createTable(
      name: String,
      path: String,
      format: String = "",
      options: Map[String, String] = Map.empty): DataFrame =
    createTable(name, Seq(path), format, options)

  /** Multi-path registration (reference: create_table accepts a LIST of
    * files/globs, context.py:2079+ input normalization). All paths must
    * share a schema; CSV skiprows applies to the concatenated line stream
    * in listing order (pandas-per-list semantics). */
  def createTable(
      name: String,
      paths: Seq[String],
      format: String,
      options: Map[String, String]): DataFrame = {
    require(paths.nonEmpty, "createTable needs at least one path")
    val rpaths = paths.map(resolvePath)
    val fmt =
      if (format.nonEmpty) format
      else {
        val p = rpaths.head.toLowerCase
        if (p.endsWith(".parquet") || p.endsWith(".pq")) "parquet"
        else if (p.endsWith(".orc")) "orc"
        else if (p.endsWith(".csv") || p.endsWith(".psv")) "csv"
        else if (p.endsWith(".json") || p.endsWith(".jsonl")) "json"
        else "parquet"
      }
    val reader = spark.read.format(fmt).options(options)
    val df = fmt match {
      // CSV supports the reference's create_table kwargs
      // (context.py:884-941): names= (column names), dtype= (types,
      // parallel to names), delimiter, skiprows, nrows, quotechar,
      // comment, na_values, lineterminator, skipinitialspace; plus raw
      // Spark options and a "schema" DDL escape hatch. No names/schema →
      // header+inference, like the reference's CSV sniffer
      // (data_parser/CSVParser.cpp).
      case "csv" =>
        val kwargs = Set("names", "dtype", "schema", "delimiter", "skiprows",
          "nrows", "quotechar", "comment", "na_values", "lineterminator",
          "skipinitialspace", "max_bytes_chunk_read")
        val passthrough = options.view.filterKeys(k => !kwargs.contains(k)).toMap
        // pandas-style kwarg -> Spark CSV reader option
        val mapped = Seq(
          "delimiter" -> "sep", "quotechar" -> "quote", "comment" -> "comment",
          "na_values" -> "nullValue", "lineterminator" -> "lineSep",
          "skipinitialspace" -> "ignoreLeadingWhiteSpace")
        val r1 = mapped.foldLeft(spark.read.format("csv").options(passthrough)) {
          case (r, (kw, opt)) => options.get(kw).fold(r)(v => r.option(opt, v))
        }
        val schemaDdl = (options.get("names"), options.get("dtype")) match {
          case (Some(ns), Some(ts)) =>
            Some(ns.split(",").map(_.trim).zip(ts.split(",").map(_.trim))
              .map { case (n, t) => s"$n $t" }.mkString(", "))
          case (Some(ns), None) =>
            Some(ns.split(",").map(n => s"${n.trim} STRING").mkString(", "))
          case _ => options.get("schema")
        }
        val r2 = schemaDdl match {
          case Some(ddl) =>
            // explicit names imply the file carries data, not a header row
            val r = if (options.contains("header")) r1 else r1.option("header", "false")
            r.schema(ddl)
          case None =>
            val r = if (options.contains("header")) r1 else r1.option("header", "true")
            r.option("inferSchema", "true")
        }
        // skiprows: drop the first N physical lines before parsing. Spark
        // has no such reader option, so feed the parser a Dataset[String]
        // with the prefix removed — zipWithIndex preserves file order, and
        // the line dataset stays distributed (no driver materialization).
        // max_bytes_chunk_read (reference CSV chunked reads, CHANGELOG
        // 21.08 #1572, default 256 MB): bound the bytes each task parses.
        // Session-level split tuning (files.maxPartitionBytes) is a GLOBAL
        // knob; the per-TABLE form goes through Hadoop's TextInputFormat,
        // whose minPartitions goal-size yields genuine byte-range splits
        // of ~chunk bytes each — no shuffle, no session mutation, and the
        // same mechanics on a 1000-executor cluster.
        val chunkParts = options.get("max_bytes_chunk_read").map(_.trim.toLong).map { bytes =>
          require(bytes > 0, s"max_bytes_chunk_read must be positive, got $bytes")
          val total = rpaths.flatMap { p =>
            // resolve the filesystem PER PATH — a table on s3a:// must not
            // be sized through the default (local/HDFS) filesystem
            val hp = new org.apache.hadoop.fs.Path(p)
            val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            Option(fs.globStatus(hp)).toSeq.flatten
          }.map(_.getLen).sum
          math.max(1L, (total + bytes - 1) / bytes).toInt
        }
        val nSkip = options.get("skiprows").map(_.trim.toInt).filter(_ > 0)
        val skipped = (nSkip, chunkParts) match {
          case (None, None) => r2.load(rpaths: _*)
          case _ =>
            // line-stream path: chunked and/or prefix-skipped reads parse a
            // Dataset[String] whose partitioning we control; zipWithIndex
            // preserves file listing order and the stream stays distributed
            val raw = chunkParts match {
              case Some(n) => spark.sparkContext.textFile(rpaths.mkString(","), n)
              case None    => spark.read.textFile(rpaths: _*).rdd
            }
            val lines = nSkip match {
              case Some(k) => raw.zipWithIndex().filter(_._2 >= k).map(_._1)
              case None    => raw
            }
            r2.csv(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
        }
        // nrows: first-N-rows cap (pandas semantics), as a plan-level limit
        options.get("nrows").map(_.trim.toInt).fold(skipped)(skipped.limit)
      case "json" =>
        options.get("schema") match {
          case Some(ddl) => reader.schema(ddl).load(rpaths: _*)
          case None      => reader.load(rpaths: _*)
        }
      case _ => reader.load(rpaths: _*)
    }
    df.createOrReplaceTempView(name)
    tables.put(name, TableInfo(name, fmt, paths, options))
    df
  }

  /** Register an existing DataFrame (reference: create_table from
    * cudf/pandas/arrow in-memory inputs, context.py:2079+). */
  def createTable(name: String, df: DataFrame): DataFrame = {
    df.createOrReplaceTempView(name)
    tables.put(name, TableInfo(name, "dataframe", Nil, Map.empty))
    df
  }

  /** Register a JDBC-backed table (reference RDBMS providers,
    * engine/src/io/data_provider/sql/ C++ sources). Partitioning options
    * (partitionColumn/lowerBound/upperBound/numPartitions) are passed
    * straight through — the Spark analog of `table_batch_size`. */
  def createTableJdbc(
      name: String,
      url: String,
      dbtable: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    graft.sources.HiveJdbcDialect.register()
    // Engine dialect rules ONLY for the engine the caller is connecting
    // to — the dialect registry is JVM-global, and blanket registration
    // would change unrelated spark.read.jdbc calls in the same process
    graft.sources.NamedJdbcDialects.registerFor(url)
    val df = spark.read.format("jdbc")
      .option("url", url).option("dbtable", dbtable).options(options).load()
    df.createOrReplaceTempView(name)
    tables.put(name, TableInfo(name, "jdbc", Seq(url), options + ("dbtable" -> dbtable)))
    df
  }

  /** Register a Hive-metastore table under an engine-catalog name
    * (reference: bc.create_table(name, hive_cursor) — hive.py:177
    * get_hive_table pulls location/schema/partitions through a HiveServer2
    * cursor, context.py:2212-2247 folds them into the table registration).
    * On Spark the metastore IS the session catalog (enableHiveSupport), so
    * the schema/location/partition metadata the reference reconstructs by
    * hand arrives through `spark.table`; partition pruning flows through
    * the catalog's partition filters (HiveMetastoreSpec pins it). */
  def createTableHive(name: String, hiveTable: String): DataFrame =
    createTableHive(name, hiveTable, Map.empty[String, Seq[String]])

  /** Hive registration restricted to named partitions (reference:
    * create_table(name, hive_cursor, partitions={...}) —
    * pyblazing/apiv2/hive.py:113-175 filterHivePartitionsWithUserPartitions
    * drops every partition not named in the user dict; context.py:2212-2247
    * registers only the surviving files). Here the restriction is a static
    * partition-column predicate folded into the registered view, so the
    * catalog's partition pruning — not a post-scan filter — enforces it:
    * HiveMetastoreSpec pins by scan metrics that unnamed partitions' files
    * are never read. */
  def createTableHive(name: String, hiveTable: String,
                      partitions: Map[String, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = spark.table(hiveTable)
    val df = partitions.foldLeft(base) { case (d, (c, vs)) =>
      d.filter(col(c).isin(vs: _*))
    }
    df.createOrReplaceTempView(name)
    tables.put(name, TableInfo(name, "hive", Seq(hiveTable),
      partitions.map { case (k, v) => s"partition:$k" -> v.mkString(",") }))
    df
  }

  /** Write a registered table (or view) to files — the sink half of §2.1.
    * The reference keeps results in memory and leaves persistence to the
    * client (result GPU frames → user-side to_parquet); here the writer is
    * part of the engine surface: format + mode + hive-style partitioning,
    * with alias:// paths resolved against registered filesystems. */
  def saveTable(
      name: String,
      path: String,
      format: String = "parquet",
      mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = spark.table(name).write.format(format).mode(mode)
    val w2 = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    w2.save(resolvePath(path))
  }

  def dropTable(name: String): Unit = {
    spark.catalog.dropTempView(name)
    tables.remove(name)
  }

  def listTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted

  /** name → (columnName, dataType) pairs (reference describe_table). */
  def describeTable(name: String): Seq[(String, String)] =
    spark.table(name).dtypes.toSeq

  // ------------------------------------------------------------------- sql

  /** Main entry point: run SQL over the registered catalog.
    * Reference: bc.sql(query) (context.py:3071). Lazily returns the
    * DataFrame; Catalyst replaces the Calcite+RAL pipeline (SURVEY §3.1).
    * Queries pass through the Calcite-dialect shims first (Dialect.rewrite,
    * proven against the reference's 48 E2E suites — DIALECT_COMPAT.md). */
  def sql(query: String): DataFrame = spark.sql(Dialect.rewrite(query))

  /** Per-query config overrides (reference: bc.sql(query, config_options=
    * {...}), context.py:3071 — applied for one query only).
    * Spark plans AND adapts lazily — AQE re-reads knobs like partition
    * coalescing sizes at runtime — so set-plan-restore would silently drop
    * overrides for those keys. Instead the query runs on a CLONED session
    * (same SparkContext, copied temp-view catalog and conf): the overrides
    * live exactly as long as the returned DataFrame, planning-time and
    * AQE-runtime reads both see them, and this session's conf is never
    * touched. */
  def sql(query: String, configOptions: Map[String, String]): DataFrame = {
    val mapped = configOptions.map { case (k, v) => mapConfigKey(k) -> v }
    val cloned = org.apache.spark.sql.graftshim.SessionClone.cloneSession(spark)
    mapped.foreach { case (k, v) => cloned.conf.set(k, v) }
    cloned.sql(Dialect.rewrite(query))
  }

  /** Two-level explain, mirroring bc.explain(sql, detail)
    * (context.py:1842-1924): detail=false → the optimized logical algebra
    * in the reference's Calcite string shape (`LogicalProject(...)` with
    * two-space indentation — see CalciteExplain), detail=true → the
    * physical plan (the honest Spark analog of the reference's RAL kernel
    * listing). */
  def explain(query: String, detail: Boolean = false): String = {
    val qe = sql(query).queryExecution
    if (detail) qe.executedPlan.toString
    else {
      // canonical plan of each registered view → its name, so scans render
      // as table=[[main, name]] (the optimizer erases view aliases)
      val canon = {
        import scala.jdk.CollectionConverters._
        tables.keySet.asScala.toSeq.sorted.flatMap { n =>
          Try(spark.table(n).queryExecution.optimizedPlan.canonicalized).toOption.map(_ -> n)
        }.toMap
      }
      graft.plans.CalciteExplain.format(
        qe.optimizedPlan, p => canon.get(p.canonicalized))
    }
  }

  // -------------------------------------------------------- async token API

  /** Reference async surface: bc.sql(q, return_token=True) → token,
    * bc.status(token), bc.fetch(token) (context.py:3071-3345). The
    * reference executes eagerly; Spark is lazy, so the token API forces an
    * async job and caches the materialized result.
    *
    * Result lifecycle (reference: result frames are freed with the token's
    * Python object, context.py:3066-3069): the cached result lives until
    * `release(token)` — callable before OR after fetch — which unpersists
    * it; `cancel` is release for in-flight queries (jobs interrupted, any
    * partial cache dropped); a query that failed is evicted, cache
    * included, when its fetch throws. Without release, repeated async
    * queries would pin every result in storage until eviction — the
    * round-5 defect this closes. */
  private final class AsyncQuery {
    @volatile var df: DataFrame = _ // set as soon as materialization starts
    @volatile var fut: Future[DataFrame] = _
    @volatile var released: Boolean = false // release() raced the analysis phase
  }
  private val pending = new ConcurrentHashMap[String, AsyncQuery]()
  private val fetched = new ConcurrentHashMap[String, AsyncQuery]()
  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Per-stage progress for one async query (reference progress bar shows
    * per-kernel batch/row counts, context.py:3609-3768 + the engine's
    * kernel counters; the Spark analog of a kernel is a stage). Rows/bytes
    * come from the stage's accumulated task metrics once it completes;
    * running stages report task fractions from the status tracker with
    * zeroed byte counters. */
  final case class StageProgress(
      stageId: Int,
      numTasks: Int,
      completedTasks: Int,
      inputRows: Long,
      inputBytes: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      completed: Boolean)

  // token → its stage ids (populated by onJobStart for jobs whose group is
  // a live token); (token, stage id) → final metrics (populated on stage
  // completion, only for tracked stages). Both evicted with the token.
  // stageDone is keyed PER TOKEN, not globally by stage id: two tokens can
  // legitimately track the same stage (AQE reuses an exchange across
  // queries), and releasing one token must not zero the other's detail.
  private val tokenStages = new ConcurrentHashMap[String, java.util.Set[Integer]]()
  private val stageDone = new ConcurrentHashMap[(String, Int), StageProgress]()

  // jobId → (token, its announced stage ids): lets onJobEnd retire stages
  // the scheduler announced but never ran (AQE reused-exchange stages are
  // "skipped" — they would otherwise read as 0%-forever in the detail).
  private val jobStages = new ConcurrentHashMap[Integer, (String, Seq[Int])]()

  // Installed once per CONTEXT on first sqlAsync (contexts are long-lived,
  // one per app — the reference's BlazingContext cardinality); contexts
  // that never use the async API register nothing.
  private lazy val stageListenerInstalled: Unit =
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val submitted = ConcurrentHashMap.newKeySet[Integer]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        for {
          props <- Option(js.properties)
          group <- Option(props.getProperty("spark.jobGroup.id"))
          set <- Option(tokenStages.get(group))
        } {
          js.stageIds.foreach(id => set.add(id))
          jobStages.put(js.jobId, (group, js.stageIds.map(_.toInt)))
        }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        // bus order guarantees the owning job's onJobStart already ran, so
        // the tracked-check keeps untracked jobs' stages out of the set
        val id = ss.stageInfo.stageId
        val tracked = {
          import scala.jdk.CollectionConverters._
          tokenStages.values.asScala.exists(_.contains(id))
        }
        if (tracked) submitted.add(id)
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // record under EVERY token tracking this stage (a reused exchange
        // can serve several live tokens); each entry dies with its token
        import scala.jdk.CollectionConverters._
        tokenStages.asScala.foreach { case (token, set) =>
          if (set.contains(si.stageId)) {
            val m = si.taskMetrics
            stageDone.put((token, si.stageId),
              StageProgress(si.stageId, si.numTasks, si.numTasks,
                m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
                m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
                completed = true))
          }
        }
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStages.remove(je.jobId)).foreach { case (group, ids) =>
          // drain the announced ids from `submitted` UNCONDITIONALLY,
          // before the token lookup: if the token was released mid-job,
          // tokenStages.get is null and a guarded drain would leak these
          // ids in `submitted` for the listener's (context-long) lifetime
          val ran = ids.filter(id => submitted.remove(id)).toSet
          for (set <- Option(tokenStages.get(group)); id <- ids)
            if (!ran.contains(id) && !stageDone.containsKey((group, id))) set.remove(id)
        }
    })

  def sqlAsync(query: String): String = {
    stageListenerInstalled
    val token = UUID.randomUUID().toString
    tokenStages.put(token, ConcurrentHashMap.newKeySet[Integer]())
    val aq = new AsyncQuery
    aq.fut = Future {
      // job group = token, so progress()/cancel() can find this query's
      // jobs through the status tracker
      spark.sparkContext.setJobGroup(token, s"graft async $token", interruptOnCancel = true)
      try {
        val df = sql(query)
        aq.df = df // visible to release/cancel even mid-materialization
        df.cache()
        df.count() // force materialization
        // release()/cancel() may have raced the analysis phase above (df
        // not yet assigned when they looked): their unpersist saw nothing
        // and cancelJobGroup found no jobs, so the cache we just built
        // would be orphaned — honor the release here instead
        if (aq.released) Try(df.unpersist(blocking = false))
        df
      } finally spark.sparkContext.clearJobGroup()
    }
    pending.put(token, aq)
    token
  }

  /** Drop a token and its cached result (running, done, or already
    * fetched). Running jobs are interrupted first. Idempotent; unknown
    * tokens are a no-op. */
  def release(token: String): Unit = {
    val aq = Option(pending.remove(token)).orElse(Option(fetched.remove(token)))
    aq.foreach { q =>
      q.released = true // a racing materialization will self-unpersist
      spark.sparkContext.cancelJobGroup(token)
      Option(q.df).foreach(d => Try(d.unpersist(blocking = true)))
    }
    // progress detail is part of the token's footprint; per-token keys
    // mean this cannot evict another token's view of a shared stage
    Option(tokenStages.remove(token)).foreach { set =>
      set.forEach(id => stageDone.remove((token, id.intValue)))
    }
  }

  /** Per-stage detail for a token (empty for unknown/released tokens).
    * Completed stages carry rows/bytes; running stages carry live task
    * fractions. Remains queryable after fetch, until release(token). */
  def progressDetail(token: String): Seq[StageProgress] = {
    val set = Option(tokenStages.get(token)).getOrElse(return Nil)
    val st = spark.sparkContext.statusTracker
    import scala.jdk.CollectionConverters._
    set.asScala.toSeq.map(_.intValue).sorted.map { sid =>
      Option(stageDone.get((token, sid))).getOrElse {
        st.getStageInfo(sid) match {
          case Some(si) => StageProgress(sid, si.numTasks, si.numCompletedTasks,
            0L, 0L, 0L, 0L, completed = false)
          case None => StageProgress(sid, 0, 0, 0L, 0L, 0L, 0L, completed = false)
        }
      }
    }
  }

  /** Fraction of the async query's tasks that have completed, in [0, 1]
    * (reference progress bar, context.py:3609-3768 polls per-query kernel
    * completion; the Spark analog is StatusTracker over the token's job
    * group). -1.0 for unknown/consumed tokens; 0.0 before any job starts. */
  def progress(token: String): Double = {
    val f = Option(pending.get(token)).map(_.fut).orNull
    if (f == null) -1.0
    else if (f.isCompleted) 1.0
    else {
      val st = spark.sparkContext.statusTracker
      val stages = st.getJobIdsForGroup(token)
        .flatMap(id => st.getJobInfo(id)).flatMap(_.stageIds())
        .flatMap(sid => st.getStageInfo(sid))
      val total = stages.map(_.numTasks).sum
      if (total == 0) 0.0
      else stages.map(_.numCompletedTasks).sum.toDouble / total
    }
  }

  /** Cancel a running async query (all jobs in the token's group) and
    * evict the token, dropping any partially-cached result. */
  def cancel(token: String): Unit = release(token)

  def status(token: String): String = {
    val f = Option(pending.get(token)).map(_.fut).orNull
    if (f == null) "unknown"
    else if (!f.isCompleted) "running"
    else if (f.value.exists(_.isSuccess)) "done"
    else "failed"
  }

  /** Consume the token: blocks until done, returns the cached result. The
    * cache stays live for the returned DataFrame until `release(token)`.
    * A failed query rethrows its error and is evicted (cache dropped). */
  def fetch(token: String): DataFrame = {
    val aq = pending.remove(token)
    require(aq != null, s"unknown token $token")
    try {
      val df = scala.concurrent.Await.result(
        aq.fut, scala.concurrent.duration.Duration.Inf)
      fetched.put(token, aq)
      df
    } catch {
      case e: Throwable =>
        Option(aq.df).foreach(d => Try(d.unpersist(blocking = false)))
        // failed tokens are evicted wholesale: progress detail included
        Option(tokenStages.remove(token)).foreach { set =>
          set.forEach(id => stageDone.remove((token, id.intValue)))
        }
        throw e
    }
  }

  // ------------------------------------------------------------------ memory

  /** Per-executor free storage memory in bytes (reference get_free_memory,
    * context.py:1959-2002 reports per-GPU free bytes; the Spark analog is
    * block-manager remaining memory per executor). */
  def getFreeMemory(): Map[String, Long] = {
    val status = spark.sparkContext.getExecutorMemoryStatus.toMap
    trackMemoryHighWater(status)
    status.map { case (exec, (_, remaining)) => exec -> remaining }
  }

  /** High-water mark of used storage memory bytes per executor since the
    * last reset (reference get_max_memory_used, context.py:2003-2046).
    * Sampled on every memory API call and query-log event; a snapshot
    * high-water, not a continuous profile — same granularity trade the
    * reference makes by polling per query. */
  def getMaxMemoryUsed(): Map[String, Long] = {
    trackMemoryHighWater(spark.sparkContext.getExecutorMemoryStatus.toMap)
    import scala.jdk.CollectionConverters._
    memoryHighWater.asScala.toMap
  }

  /** Reference reset_max_memory_used (context.py:2047-2078). */
  def resetMaxMemoryUsed(): Unit = memoryHighWater.clear()

  private val memoryHighWater = new ConcurrentHashMap[String, Long]()
  private def trackMemoryHighWater(status: Map[String, (Long, Long)]): Unit =
    status.foreach { case (exec, (max, remaining)) =>
      memoryHighWater.merge(exec, max - remaining, (a, b) => math.max(a, b))
    }

  // ------------------------------------------------------------- partitioning

  /** Hash-repartition a registered table by columns and re-register it
    * (reference bc.partition(input, by=[...]), context.py:3018-3065 —
    * its dask shuffle-on-columns; here an Exchange hashpartitioning that
    * downstream same-key joins/aggs reuse). n = 0 keeps the session's
    * shuffle parallelism. */
  def partitionTable(name: String, by: Seq[String], n: Int = 0): DataFrame = {
    require(by.nonEmpty, "partitionTable needs at least one column")
    val df = spark.table(name)
    val cols = by.map(df.col)
    val out = if (n > 0) df.repartition(n, cols: _*) else df.repartition(cols: _*)
    out.createOrReplaceTempView(name)
    out
  }

  // ----------------------------------------------------------------- config

  /** Reference config key → the Spark conf knob playing the same role
    * (context.py:1242-1289 defaults, :1334-1480 docs). Unknown keys pass
    * through verbatim (future-proof). */
  private def mapConfigKey(key: String): String = key match {
    case "JOIN_PARTITION_SIZE_THRESHOLD" => // bytes per join partition
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    case "MAX_JOIN_SCATTER_MEM_OVERHEAD" => // broadcast threshold (bytes)
      "spark.sql.autoBroadcastJoinThreshold"
    case "NUM_BYTES_PER_ORDER_BY_PARTITION" =>
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    case "EXECUTOR_THREADS" | "MAX_KERNEL_RUN_THREADS" =>
      "spark.sql.shuffle.partitions"
    case "MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE" =>
      "spark.sql.files.maxPartitionBytes"
    case "MAX_ORDER_BY_SAMPLES_PER_NODE" =>
      "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    case other => other
  }

  def config(key: String, value: String): Unit =
    spark.conf.set(mapConfigKey(key), value)

  def config(options: Map[String, String]): Unit = options.foreach { case (k, v) => config(k, v) }

  def getConfig(key: String): Option[String] = Try(spark.conf.get(key)).toOption

  // -------------------------------------------------------------- telemetry

  /** Query telemetry table (reference bc.log, context.py:3346-3608).
    * Lazily installed so sessions that never ask pay nothing. */
  lazy val queryLog: QueryLog = new QueryLog(spark)

  /** The telemetry log as a DataFrame (optionally registered as a view). */
  def log(viewName: String = ""): DataFrame = {
    val df = queryLog.table()
    if (viewName.nonEmpty) df.createOrReplaceTempView(viewName)
    df
  }

  /** Record a dedup-probe recommendation in the engine log (r15 verdict
    * #5): the WHY fields (non-ASCII rate, gram-universe growth, estimated
    * pairs/doc) used to live only in a JVM-global register
    * (Dedup.lastRecommendation — last-writer-wins under concurrency) and
    * an slf4j line; a pipeline that just ran an auto dedup passes the
    * recommendation it was HANDED here and gets a durable row next to the
    * run's query records. Returns the recommendation for call chaining.
    * rows = the probed sample size, in the row-count column's spirit. */
  def logDedupRecommendation(rec: operators.Dedup.DedupProfileRecommendation)
      : operators.Dedup.DedupProfileRecommendation = {
    queryLog.annotate("dedup.recommendProfile",
      f"profile=${rec.profile} maxBucket=${rec.maxBucket} " +
        f"sampleDocs=${rec.sampleDocs} nonAsciiRate=${rec.nonAsciiRate}%.4f " +
        f"newGramRate=${rec.newGramRate}%.4f estPairs=${rec.estPairs} " +
        f"estPairsPerDoc=${rec.estPairsPerDoc}%.2f",
      rows = rec.sampleDocs)
    rec
  }
}

object EngineContext {

  /** Where [[session]] anchors the embedded Derby metastore + warehouse:
    * `graft.engine.home` system property, else GRAFT_ENGINE_HOME env, else
    * `<java.io.tmpdir>/graft-engine`. Repeated runs from any CWD reuse one
    * metastore. */
  def engineHome: String =
    sys.props.get("graft.engine.home")
      .orElse(sys.env.get("GRAFT_ENGINE_HOME"))
      .getOrElse(new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-engine").getAbsolutePath)

  /** Generated-class cache capacity (`spark.sql.codegen.cache.maxEntries`).
    * Spark's `CodeGenerator` caches compiled classes keyed by (class
    * loader, source text) with LRU eviction, 100 entries by default. Every
    * whole-stage pipeline is compiled twice — once on the driver under the
    * app class loader and once in the task under the executor loader — so
    * the working set is about 2 × the distinct pipeline sources. The TPC-H
    * texts alone reach ~250 entries, and at 100 the LRU evicted each entry
    * before its next use: every run of a repeated query recompiled, and
    * the JIT then re-warmed every fresh class. 2000 holds the largest
    * measured working set (253) with room for a session's operator mix. */
  val CodegenCacheEntries = 2000

  /** One session factory for the engine, its mains and its tests.
    *
    * Shuffle partitions default to 32 (the local harness); callers sizing
    * for their core count set `spark.sql.shuffle.partitions` as a runtime
    * conf on the returned session. Hive support is on (the reference's
    * create_table(name, hive_cursor) path needs a metastore —
    * context.py:2212-2247), which makes spark-hive a runtime classpath
    * requirement; metastore startup is lazy, so sessions that never touch a
    * metastore table pay nothing.
    *
    * Two fixed codegen settings make each generated class compile once per
    * JVM rather than once per query:
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]], so
    *    the driver + executor class-loader working set (2 × distinct
    *    sources) fits the LRU instead of thrashing it;
    *  - `spark.sql.codegen.useIdInClassName` = false. AQE assigns
    *    `codegenStageId` in stage-materialization order, which can differ
    *    between runs of one query, and the ID is part of the class name —
    *    so an identical pipeline got a new source text and missed the
    *    cache. With the flag off the ID goes only into the comment map,
    *    which `CodeAndComment` equality ignores.
    *
    * Caveat: `getOrCreate` returns an existing session as-is (possibly
    * without Hive support or these settings), and the cache size is read
    * once, when `CodeGenerator` first initializes in the JVM. A JVM that
    * compiled generated code before calling this keeps its earlier size.
    *
    * The embedded Derby metastore + warehouse are anchored to
    * [[engineHome]], not the process CWD, so library consumers launching
    * from arbitrary directories don't scatter metastore_db/ dirs around. */
  def session(master: String = "local[32]", appName: String = "graft"): SparkSession = {
    val target = new java.io.File(engineHome).getAbsolutePath
    // derby.log otherwise lands in the process CWD
    if (sys.props.get("derby.system.home").isEmpty)
      System.setProperty("derby.system.home", target)
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Parquet TIMESTAMP(NANOS) portability: older Spark honors this conf
      // and reads ns as LongType; the installed 4.1.2 ignores it and reads
      // TIMESTAMP_NTZ. Tables.normalizeTs lands BOTH modes on the same
      // UTC-µs TIMESTAMP (integer ns→µs division vs a pure-reinterpret
      // NTZ cast under this session's pinned UTC zone), so the conf is
      // kept for back-compat, not correctness.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // reference dialect is non-ANSI: x % 0 and bad casts yield NULL
      // (cudf semantics), not errors (Spark 4 flipped the default)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$target/spark-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$target/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Build a context with every driver-testdata table registered. */
  def forDir(spark: SparkSession, sfDir: String): EngineContext = {
    val ctx = new EngineContext(spark)
    Tables.names.foreach { n => ctx.createTable(n, s"$sfDir/$n.parquet", "parquet") }
    ctx
  }
}
