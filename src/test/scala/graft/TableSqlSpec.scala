package graft

import org.apache.spark.sql.functions._

/** The SQL table-op frontend's GUARD RAILS — the statements themselves
  * are oracle-gated end-to-end by q195/q196/q197; what a spec must pin
  * is that a malformed or mis-targeted statement fails loudly instead of
  * silently running as a different mutation. Every registered table is
  * an OCC table: its log is bootstrapped (v0) before registration. */
class TableSqlSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  /** `n` rows (k, v = k % 7) in `files` key-sorted files under
    * `base/data`, with the v0 snapshot of `base/versions` over them. */
  private def stageTable(base: String, n: Long, files: Int): Unit = {
    graft.util.Staging.deleteRecursive(base)
    spark.range(n).select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(files, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    ()
  }

  private lazy val reg: Map[String, TableSql.TableRef] = {
    val base = scratch("tablesql_fixture")
    stageTable(base, 1000, 4)
    Map("tbl" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
  }

  private def headCount(ref: TableSql.TableRef): Long =
    VersionLog.readVersion(spark, ref.versionsDir, VersionLog.head(spark, ref.versionsDir)).count()

  test("unknown table and unsupported statements fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "DELETE FROM nope WHERE k BETWEEN 1 AND 2")
    }
    assert(e1.getMessage.contains("unknown table"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "TRUNCATE TABLE tbl")
    }
    assert(e2.getMessage.contains("unsupported"), e2.getMessage)
    // a DELETE missing its range must not parse as anything else
    val e3 = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "DELETE FROM tbl")
    }
    assert(e3.getMessage.contains("unsupported"), e3.getMessage)
  }

  test("mutations on the wrong key column are rejected before touching the table") {
    val before = headCount(reg("tbl"))
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "DELETE FROM tbl WHERE v BETWEEN 1 AND 2")
    }
    assert(e.getMessage.contains("clustering key"), e.getMessage)
    spark.range(1).select(lit(5L).as("k"), lit(9.9).as("v"))
      .createOrReplaceTempView("tsql_delta")
    val e2 = intercept[IllegalArgumentException] {
      TableSql(spark, reg,
        """MERGE INTO tbl USING tsql_delta ON tbl.v = tsql_delta.v
           WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e2.getMessage.contains("clustering key"), e2.getMessage)
    assert(headCount(reg("tbl")) == before)
    assert(VersionLog.head(spark, reg("tbl").versionsDir) == 0)
  }

  test("VACUUM and VERSION AS OF on an unversioned table are rejected") {
    // a table without a version log does not type-check: the log is a
    // required field, so no statement can reach a log-less table
    assertTypeError("""TableSql.TableRef("data", None, "k")""")
    // history the log never committed is refused loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      TableSql(spark, reg, "SELECT COUNT(*) FROM tbl VERSION AS OF 7").collect()
    }
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "VACUUM tbl RETAIN 0 VERSIONS")
    }
    assert(e.getMessage.contains("retain at least the head"), e.getMessage)
  }

  test("VACUUM and its DRY RUN on a table whose version log does not exist throw") {
    // a mistyped or never-bootstrapped log is not an empty one: VACUUM
    // fails loudly, naming the dir, exactly like DESCRIBE HISTORY
    val missing = scratch("tablesql_vacuum_nolog") + "/versions"
    graft.util.Staging.deleteRecursive(missing)
    val nreg = Map("nolog" -> reg("tbl").copy(versionsDir = missing))
    for (stmt <- Seq("VACUUM nolog RETAIN 1 VERSIONS", "VACUUM nolog RETAIN 1 VERSIONS DRY RUN")) {
      val e = intercept[IllegalArgumentException](TableSql(spark, nreg, stmt))
      assert(e.getMessage.contains("does not exist") && e.getMessage.contains(missing),
        s"$stmt: ${e.getMessage}")
    }
    assert(!new java.io.File(missing).exists())
  }

  test("2D snapshot stats equal a rebuild through SQL DELETE, UPDATE and OPTIMIZE") {
    val base = scratch("tablesql_multi")
    graft.util.Staging.deleteRecursive(base)
    spark.range(2000).select(col("id").as("k"), (col("id") / 200).cast("long").as("x"),
        (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k", Seq("x")))
    val mreg = Map("mtbl" -> TableSql.TableRef(s"$base/data", vdir, "k"))
    // the head snapshot's per-file x extents == a fresh scan of its files
    def assertStatsFresh(after: String): Unit = {
      val snap = VersionLog.manifestAt(spark, vdir, VersionLog.head(spark, vdir))
      val stats = snap.select("file", "min_x", "max_x").collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath,
          Option(r.get(1)), Option(r.get(2)))).toSet
      val rebuilt = spark.read.parquet(snap.select("file").collect().map(_.getString(0)): _*)
        .groupBy(input_file_name().as("file")).agg(min("x"), max("x")).collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath,
          Option(r.get(1)), Option(r.get(2)))).toSet
      assert(stats.forall(_._2.isDefined), s"null x stats after $after: $stats")
      assert(stats == rebuilt, s"x stats after $after diverge from a rebuild")
    }
    TableSql(spark, mreg, "DELETE FROM mtbl WHERE k BETWEEN 300 AND 700").collect()
    assertStatsFresh("DELETE")
    TableSql(spark, mreg, "UPDATE mtbl SET v = v + 1 WHERE k BETWEEN 1000 AND 1100").collect()
    assertStatsFresh("UPDATE")
    val m = TableSql(spark, mreg, "OPTIMIZE mtbl").head()
    assert(m.getLong(1) >= 2, s"OPTIMIZE compacted nothing: $m")
    assertStatsFresh("OPTIMIZE")
  }

  test("SELECT binds, never rewrites: a string literal containing a table name survives verbatim") {
    // round-10 review: the old textual \btbl\b rewrite would mangle the
    // literal into 'tbl__head' and change the comparison's result
    val r = TableSql(spark, reg,
      "SELECT 'tbl' AS lit_name, COUNT(*) AS n FROM tbl WHERE 'a tbl b' = 'a tbl b'")
      .head()
    assert(r.getString(0) == "tbl", s"literal was rewritten to ${r.getString(0)}")
    assert(r.getLong(1) == 1000)
  }

  test("DELETE bounds parse through the SQL grammar: a lower bound containing AND splits correctly") {
    val base = scratch("tablesql_between")
    stageTable(base, 1000, 4)
    val breg = Map("btbl" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    // round-10 review: the old non-greedy regex split this clause at the
    // FIRST ' AND ' — inside the CASE — and deleted the wrong range
    TableSql(spark, breg,
      """DELETE FROM btbl WHERE k BETWEEN
         CASE WHEN 1 = 1 AND 2 = 2 THEN 100 ELSE 0 END AND 199""").collect()
    val left = TableSql(spark, breg, "SELECT * FROM btbl")
    assert(left.count() == 900, s"expected 900 survivors, got ${left.count()}")
    assert(left.filter(col("k").between(100, 199)).count() == 0)
    assert(left.filter(col("k") < 100).count() == 100,
      "a mis-split bound deleted below the CASE's value")
  }

  test("occ registration without a version log is rejected before touching the table") {
    // the type carries the log, so "registered without one" cannot be
    // written; the runtime counterpart is a log with no committed
    // version, which every mutation refuses before writing anything
    assertTypeError("""TableSql.TableRef("data", "versions", "k", occ = true)""")
    val ref = reg("tbl")
    val base = scratch("tablesql_nolog")
    graft.util.Staging.deleteRecursive(base)
    val occReg = Map("otbl" -> ref.copy(versionsDir = s"$base/versions"))
    val before = headCount(ref)
    spark.range(1).select(lit(5L).as("k"), lit(9.9).as("v"))
      .createOrReplaceTempView("tsql_occ_delta")
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, occReg,
        """MERGE INTO otbl USING tsql_occ_delta ON otbl.k = tsql_occ_delta.k
           WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("no committed version"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableSql(spark, occReg, "DELETE FROM otbl WHERE k BETWEEN 1 AND 2")
    }
    assert(e2.getMessage.contains("no committed version"), e2.getMessage)
    assert(headCount(ref) == before)
    assert(!new java.io.File(s"$base/versions/v0").exists())
    assert(!new java.io.File(ref.dataDir).list().exists(_.startsWith("txn-sql-")),
      "a refused statement left a transaction slot behind")
  }

  test("a string literal containing 'name VERSION AS OF n' survives verbatim (no rewrite inside literals)") {
    // round-11 verdict #7: the one remaining textual rewrite used to
    // match inside literals; both the rewrite and the binding decision
    // now run against a literal-masked copy of the statement
    val r = TableSql(spark, reg,
      "SELECT 'tbl VERSION AS OF 1' AS phrase, COUNT(*) AS n FROM tbl").head()
    assert(r.getString(0) == "tbl VERSION AS OF 1",
      s"time-travel phrase inside a literal was rewritten to ${r.getString(0)}")
    assert(r.getLong(1) == 1000)
  }

  test("a table name appearing ONLY inside a literal binds nothing (empty-log OCC table stays untouched)") {
    // round-11 review: the raw substring test bound (and head-read) any
    // registered table whose name merely appeared in the text — an OCC
    // table with an empty log then threw out of an otherwise-valid SELECT
    val base = scratch("tablesql_litbind")
    graft.util.Staging.deleteRecursive(base)
    val bindReg = reg ++ Map("emptyocc" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    // 'emptyocc' only in a literal: must not bind, must not throw
    val r = TableSql(spark, bindReg,
      "SELECT 'emptyocc' AS who, COUNT(*) AS n FROM tbl").head()
    assert(r.getString(0) == "emptyocc" && r.getLong(1) == 1000)
    // and a name that is a SUBSTRING of another word must not bind either
    val r2 = TableSql(spark, bindReg,
      "SELECT COUNT(*) AS n FROM tbl WHERE 1 = 1 -- emptyoccupied\n").head()
    assert(r2.getLong(0) == 1000)
  }

  test("INSERT INTO: appends through the string on plain and OCC tables; schema mismatch rejected before touching the table") {
    val base = scratch("tablesql_insert")
    graft.util.Staging.deleteRecursive(base)
    stageTable(s"$base/plain", 100, 2); stageTable(s"$base/occ", 100, 2)
    val ireg = Map(
      "ptbl" -> TableSql.TableRef(s"$base/plain/data", s"$base/plain/versions", "k"),
      "otbl" -> TableSql.TableRef(s"$base/occ/data", s"$base/occ/versions", "k"))
    spark.range(1000, 1020).select(col("id").as("k"), lit(9.5).as("v"))
      .createOrReplaceTempView("ins_src")
    val m1 = TableSql(spark, ireg, "INSERT INTO ptbl SELECT k, v FROM ins_src").head()
    assert(m1.getLong(0) == 1, s"INSERT should commit v1, got ${m1.getLong(0)}")
    assert(TableSql(spark, ireg, "SELECT COUNT(*) AS n FROM ptbl").head().getLong(0) == 120)
    val m2 = TableSql(spark, ireg, "INSERT INTO otbl SELECT k, v FROM ins_src").head()
    assert(m2.getLong(0) == 1, s"OCC INSERT should commit v1, got ${m2.getLong(0)}")
    assert(TableSql(spark, ireg, "SELECT COUNT(*) AS n FROM otbl").head().getLong(0) == 120)
    // schema guard: wrong column set rejected loudly, nothing appended
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, ireg, "INSERT INTO ptbl SELECT k, v AS wrong FROM ins_src")
    }
    assert(e.getMessage.contains("must match the table's"), e.getMessage)
    assert(TableSql(spark, ireg, "SELECT COUNT(*) AS n FROM ptbl").head().getLong(0) == 120)
    // the SELECT half binds registered tables: INSERT ... SELECT FROM a
    // registered table works end to end
    val m3 = TableSql(spark, ireg,
      "INSERT INTO ptbl SELECT k + 5000 AS k, v FROM otbl WHERE k >= 1000").head()
    assert(m3.getLong(0) == 2)
    assert(TableSql(spark, ireg, "SELECT COUNT(*) AS n FROM ptbl").head().getLong(0) == 140)
  }

  test("schema evolution through SQL: evolveSchema tables accept divergent MERGE/INSERT sources; plain tables reject the flag") {
    val base = scratch("tablesql_evolve")
    graft.util.Staging.deleteRecursive(base)
    spark.range(400).select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    VersionLog.commit(spark, s"$base/versions", s"$base/manifest") // v0
    val ereg = Map("etbl" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k", evolveSchema = true))
    // MERGE whose source ADDS a column: evolves instead of rejecting
    spark.range(10, 30).select(col("id").as("k"), lit(9.9).as("v"),
        (col("id") * 2.0).as("w"))
      .createOrReplaceTempView("evo_delta")
    val v1 = TableSql(spark, ereg,
      """MERGE INTO etbl USING evo_delta ON etbl.k = evo_delta.k
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      .head().getLong(0)
    assert(v1 == 1)
    val head = TableSql(spark, ereg,
      "SELECT COUNT(*) AS n, COUNT(w) AS n_w FROM etbl").head()
    assert(head.getLong(0) == 400 && head.getLong(1) == 20,
      s"evolved column wrong through SQL: ${head}")
    // INSERT with the evolved set (and a missing column null-fills)
    spark.range(1000, 1010).select(col("id").as("k"), lit(1.5).as("v"))
      .createOrReplaceTempView("evo_ins")
    TableSql(spark, ereg, "INSERT INTO etbl SELECT k, v FROM evo_ins").collect()
    val after = TableSql(spark, ereg,
      "SELECT COUNT(*) AS n, COUNT(w) AS n_w FROM etbl").head()
    assert(after.getLong(0) == 410 && after.getLong(1) == 20)
    // the same log registered WITHOUT the flag rejects the divergent
    // source before touching the table: evolution is opt-in per table
    val preg = Map("ptbl2" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, preg, "INSERT INTO ptbl2 SELECT k, v FROM evo_ins")
    }
    assert(e.getMessage.contains("must match the table's"), e.getMessage)
    assert(TableSql(spark, preg, "SELECT COUNT(*) AS n FROM ptbl2").head().getLong(0) == 410)
  }

  test("the head view reads the manifest's files, never the directory listing") {
    // plant an orphan file (a crashed txn slot) beside the table: a
    // directory listing would read it, the manifest-decided head must not
    val ref = reg("tbl")
    spark.range(1).select(lit(999999L).as("k"), lit(-1.0).as("v"))
      .write.mode("overwrite").parquet(s"${ref.dataDir}/txn-orphan")
    val n = TableSql(spark, reg, "SELECT COUNT(*) AS n FROM tbl").head().getLong(0)
    assert(n == 1000, s"head view read an orphan txn slot: $n rows")
  }

  test("double-quoted literals mask like single-quoted ones: no binding, no time-travel rewrite inside them") {
    // round-12 verdict #4: Spark's default (non-ANSI) parser treats "…"
    // as a STRING LITERAL too — the single-quote-only mask let a
    // registered name (or a full time-travel phrase) inside double
    // quotes bind/rewrite, the same class of bug just fixed for '…'
    val r = TableSql(spark, reg,
      """SELECT "tbl VERSION AS OF 1" AS phrase, COUNT(*) AS n FROM tbl""").head()
    assert(r.getString(0) == "tbl VERSION AS OF 1",
      s"time-travel phrase inside a double-quoted literal was rewritten to ${r.getString(0)}")
    assert(r.getLong(1) == 1000)
    // a name appearing ONLY inside a double-quoted literal binds nothing
    // (the empty-log OCC table would throw out of headRead if it bound)
    val base = scratch("tablesql_dqbind")
    graft.util.Staging.deleteRecursive(base)
    val bindReg = reg ++ Map("dqocc" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    val r2 = TableSql(spark, bindReg,
      """SELECT "dqocc" AS who, COUNT(*) AS n FROM tbl""").head()
    assert(r2.getString(0) == "dqocc" && r2.getLong(1) == 1000)
    // doubled-quote escapes stay inside the mask
    val r3 = TableSql(spark, bindReg,
      """SELECT "a ""dqocc"" b" AS who, COUNT(*) AS n FROM tbl""").head()
    assert(r3.getString(0) == """a "dqocc" b""" && r3.getLong(1) == 1000)
  }

  test("backslash-escaped quotes stay inside the literal mask (default parser escape semantics)") {
    // round-13 review: Spark's default parser processes \' as an escaped
    // quote INSIDE the literal — treating it as the closing quote
    // unmasked the literal's tail, and a time-travel phrase there was
    // rewritten (the same class as the double-quote bug)
    val r = TableSql(spark, reg,
      "SELECT 'it\\'s tbl VERSION AS OF 1' AS phrase, COUNT(*) AS n FROM tbl").head()
    assert(r.getString(0) == "it's tbl VERSION AS OF 1",
      s"phrase after an escaped quote was rewritten to ${r.getString(0)}")
    assert(r.getLong(1) == 1000)
  }

  test("OPTIMIZE compacts through the string; DESCRIBE HISTORY surfaces commit classes and needs a version log") {
    val base = scratch("tablesql_optimize")
    graft.util.Staging.deleteRecursive(base)
    spark.range(2000).select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    VersionLog.commit(spark, s"$base/versions", s"$base/manifest") // v0
    val oreg = Map("optbl" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    val m = TableSql(spark, oreg, "OPTIMIZE optbl").head()
    assert(m.getLong(1) == 8 && m.getLong(2) >= 1 && m.getLong(2) < 8,
      s"expected 8 small files folded, got ${m}")
    // content preserved; the pinned pre-OPTIMIZE version intact
    assert(TableSql(spark, oreg, "SELECT COUNT(*) AS n FROM optbl").head().getLong(0) == 2000)
    assert(TableSql(spark, oreg,
      "SELECT COUNT(*) AS n FROM optbl VERSION AS OF 0").head().getLong(0) == 2000)
    // history: v0 content commit, v1 rewrite-only, no schema records
    val hist = TableSql(spark, oreg, "DESCRIBE HISTORY optbl").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(!hist(0).getBoolean(hist(0).fieldIndex("rewrite_only"))
      && hist(1).getBoolean(hist(1).fieldIndex("rewrite_only")))
    assert(hist.forall(!_.getBoolean(hist(0).fieldIndex("has_schema_record"))))
    assert(hist(0).getLong(hist(0).fieldIndex("n_files")) == 8)
    // thresholds parse: SMALL 1 byte finds nothing small enough
    val m2 = TableSql(spark, oreg, "OPTIMIZE optbl SMALL 1 TARGET 1000000").head()
    assert(m2.getLong(1) == 0 && m2.getLong(2) == 0)
    // DESCRIBE HISTORY of a log that was never bootstrapped rejects loudly
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, Map("nolog" -> reg("tbl").copy(versionsDir = s"$base/nolog")),
        "DESCRIBE HISTORY nolog")
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("backtick-quoted identifiers still BIND: backticks quote names, not literals") {
    // the mask deliberately skips backtick spans — `tbl` is a real table
    // reference; masking it would silently unbind a legitimate query
    val r = TableSql(spark, reg, "SELECT COUNT(*) AS n FROM `tbl`").head()
    assert(r.getLong(0) == 1000, "a backtick-quoted registered table failed to bind")
  }

  test("ALTER TABLE ADD COLUMN: a schema-only commit — head null-fills, a pinned pre-ALTER version keeps its schema") {
    val base = scratch("tablesql_alter")
    graft.util.Staging.deleteRecursive(base)
    spark.range(1000).select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    VersionLog.commit(spark, s"$base/versions", s"$base/manifest") // v0
    val areg = Map("atbl" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k", evolveSchema = true))
    val res = TableSql(spark, areg, "ALTER TABLE atbl ADD COLUMN score DOUBLE").head()
    assert(res.getLong(0) == 1 && res.getString(1) == "score")
    // schema-only: same rows, evolved columns, all-null new column
    val head0 = TableSql(spark, areg,
      "SELECT COUNT(*) AS n, COUNT(score) AS ns FROM atbl").head()
    assert(head0.getLong(0) == 1000 && head0.getLong(1) == 0)
    // the pinned pre-ALTER version keeps its original schema
    assert(!VersionLog.readVersion(spark, s"$base/versions", 0).columns.contains("score"),
      "pre-ALTER pinned version leaked the added column")
    // an old-shape INSERT null-fills (evolveSchema table)
    spark.range(2000, 2010).select(col("id").as("k"), lit(1.5).as("v"))
      .createOrReplaceTempView("alter_rows")
    TableSql(spark, areg, "INSERT INTO atbl SELECT k, v FROM alter_rows").collect()
    val head1 = TableSql(spark, areg,
      "SELECT COUNT(*) AS n, COUNT(score) AS ns FROM atbl").head()
    assert(head1.getLong(0) == 1010 && head1.getLong(1) == 0)
    // a new-shape INSERT carries the column
    spark.range(3000, 3005)
      .select(col("id").as("k"), lit(1.5).as("v"), lit(2.0).as("score"))
      .createOrReplaceTempView("alter_rows2")
    TableSql(spark, areg, "INSERT INTO atbl SELECT k, v, score FROM alter_rows2").collect()
    val head2 = TableSql(spark, areg,
      "SELECT COUNT(*) AS n, COUNT(score) AS ns FROM atbl").head()
    assert(head2.getLong(0) == 1015 && head2.getLong(1) == 5)
    // adding an existing column rejects loudly, case-insensitively
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, areg, "ALTER TABLE atbl ADD COLUMN V INT")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // a log with no committed version has no schema to evolve
    val e2 = intercept[IllegalArgumentException] {
      TableSql(spark, Map("nolog" -> areg("atbl").copy(versionsDir = s"$base/nolog")),
        "ALTER TABLE nolog ADD COLUMN score DOUBLE")
    }
    assert(e2.getMessage.contains("no committed version"), e2.getMessage)
    // multi-column DDL rejects LOUDLY instead of silently adding only the
    // first field (round-13 advice: the type regex swallows the tail, and
    // fromDDL happily parses 'INT, d STRING' as a second field)
    val e3 = intercept[IllegalArgumentException] {
      TableSql(spark, areg, "ALTER TABLE atbl ADD COLUMN c INT, d STRING")
    }
    assert(e3.getMessage.contains("exactly one column"), e3.getMessage)
    assert(!VersionLog.readVersion(spark, s"$base/versions",
        VersionLog.head(spark, s"$base/versions")).columns.contains("c"),
      "rejected multi-column ALTER still committed its first field")
    // nested commas are ONE type, not multi-column DDL
    val r4 = TableSql(spark, areg,
      "ALTER TABLE atbl ADD COLUMN meta MAP<STRING, INT>").head()
    assert(r4.getString(1) == "meta")
  }

  test("TIMESTAMP AS OF: literal masking holds, bad bounds reject, RESTORE TO TIMESTAMP resolves") {
    val base = scratch("tablesql_tstravel")
    graft.util.Staging.deleteRecursive(base)
    spark.range(100).select(col("id").as("k"), lit("a").as("tag"))
      .coalesce(1).write.parquet(s"$base/data")
    val vdir = s"$base/versions"
    val stats = FileSkipping.buildManifest(spark, s"$base/data", "k")
    VersionLog.commitSnapshot(spark, vdir, stats, markers = Seq("_TS_1700000000000")) // v0
    VersionLog.commitSnapshot(spark, vdir, stats.limit(0),
      markers = Seq("_TS_1700000100000"),
      schemaJson = Some(spark.read.parquet(s"$base/data").schema.json)) // v1: empty table
    val tReg = Map("ttbl" -> TableSql.TableRef(s"$base/data", vdir, "k"))
    // epoch + quoted forms resolve; head is the empty v1
    assert(TableSql(spark, tReg,
      "SELECT COUNT(*) AS n FROM ttbl TIMESTAMP AS OF 1700000050000").head().getLong(0) == 100)
    assert(TableSql(spark, tReg,
      "SELECT COUNT(*) AS n FROM ttbl").head().getLong(0) == 0)
    // a literal containing the full phrase is NEVER rewritten
    val lit0 = TableSql(spark, tReg,
      "SELECT 'ttbl TIMESTAMP AS OF 1700000050000' AS phrase, COUNT(*) AS n FROM ttbl").head()
    assert(lit0.getString(0) == "ttbl TIMESTAMP AS OF 1700000050000" && lit0.getLong(1) == 0)
    // malformed bound rejects loudly
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, tReg, "SELECT * FROM ttbl TIMESTAMP AS OF 'not a time'")
    }
    assert(e.getMessage.contains("not epoch millis"), e.getMessage)
    // instant-addressed rollback: restores to the resolved version
    val r = TableSql(spark, tReg,
      "RESTORE TABLE ttbl TO TIMESTAMP AS OF 1700000000001").head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 0, s"restore row: $r")
    assert(TableSql(spark, tReg,
      "SELECT COUNT(*) AS n FROM ttbl").head().getLong(0) == 100)
  }

  test("graftbench's TableRef shape: occ = true with a log registers; occ = false or no log throws") {
    val ok = TableSql.TableRef("d", "m", "k", versionsDir = Some("v"), cdcDir = Some("c"),
      occ = true)
    assert(ok == TableSql.TableRef("d", "v", "k", cdcDir = Some("c")))
    val e1 = intercept[IllegalArgumentException] {
      TableSql.TableRef("d", "m", "k", versionsDir = Some("v"), cdcDir = None, occ = false)
    }
    assert(e1.getMessage.contains("occ = false"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableSql.TableRef("d", "m", "k", versionsDir = None, cdcDir = Some("c"), occ = true)
    }
    assert(e2.getMessage.contains("no versionsDir"), e2.getMessage)
  }
}
