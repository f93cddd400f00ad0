package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{CompareMissingRowsError, CompareNoExactMatchError, MissingKeysAfterMergeError}

/** DataFrame operator family — the Spark port of the reference's
  * `sql_autoloader/dataframe_operations.py` + `connector.py:26-59`
  * (SURVEY.md §2.A, ops A1-A11).
  *
  * Scale notes: everything stays distributed; the only actions are the
  * row-count guards in [[mergeIds]] (cached first) and emptiness
  * probes (`limit(1)` scans, not full counts). The database side of
  * [[mergeIds]] is broadcast by default — id/dimension tables are
  * small relative to the data being loaded.
  */
object FrameOps {

  /** A1 (`connector.py:26-40`): rename columns per user map, then drop
    * duplicate rows — global dedup is an enforced assumption of the
    * load pipeline (reference README.md:44-47).
    */
  def preprocess(df: DataFrame, columns: Map[String, String] = Map.empty): DataFrame =
    // post-dedup coalesce(1): the dedup's map-side partial aggregation
    // still runs distributed; only the (already per-partition-deduped)
    // final merge collapses to one task. Loader frames are dimension
    // rows headed for a single-connection JDBC boundary — batchInsert
    // COLLECTS them — so every downstream consumer otherwise pays
    // shuffle.partitions near-empty tasks per action (and a .cache()
    // on the result pins that width against AQE coalescing: measured
    // 32-task stages over 25-row frames in c_load_roundtrip)
    df.withColumnsRenamed(columns).dropDuplicates().coalesce(1)

  /** A2 (`connector.py:43-59`): invert the rename for columns still
    * present, restoring user-facing names.
    */
  def postprocess(df: DataFrame, columns: Map[String, String] = Map.empty): DataFrame = {
    val present = df.columns.toSet
    val undo = columns.collect { case (k, v) if present.contains(v) => v -> k }
    df.withColumnsRenamed(undo)
  }

  /** A3 (`dataframe_operations.py:12-16`): true if the frame is empty
    * or any value anywhere is null. Single filtered `limit(1)` probe
    * instead of per-column counts.
    */
  def hasNulls(df: DataFrame): Boolean = countAndNulls(df)._2

  /** (row count, any-null present) in ONE aggregation job — guard
    * checks are driver barriers, so they are batched wherever the
    * pipeline needs both facts.
    */
  def countAndNulls(df: DataFrame): (Long, Boolean) = {
    if (df.columns.isEmpty) return (0L, df.isEmpty)
    val anyNull = df.columns.map(c => quoted(c).isNull).reduce(_ || _)
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(when(anyNull, 1L).otherwise(0L)).as("nn")).first()
    val n = row.getLong(0)
    val nn = if (row.isNullAt(1)) 0L else row.getLong(1)
    (n, n == 0 || nn > 0)
  }

  /** A4 (`dataframe_operations.py:59-76`): project to a column subset
    * and dedup. Stays a DataFrame — materialize with `.collect()` only
    * at the JDBC-write boundary.
    */
  def getRows(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.forall(df.columns.contains),
      "Not all columns appear in dataframe.")
    // same post-dedup coalesce(1) as [[preprocess]] — see the note
    // there (these rows are about to cross the JDBC boundary)
    df.select(columns.map(quoted): _*).dropDuplicates().coalesce(1)
  }

  /** A5 (`dataframe_operations.py:79-103`): cast db-fetched columns to
    * the in-flight frame's dtypes so joins/compares are well-typed.
    * With `spark.read.jdbc` types usually already align.
    *
    * Failure parity (`dataframe_operations.py:101-103`, the
    * reference's MatchDatatypesError on polars' InvalidOperation):
    * every cast carries an explicit corruption guard — a non-null
    * value whose `try_cast` comes back null raises with a
    * MatchDatatypesError-labeled message. This makes the failure
    * loud in BOTH ANSI modes: with ANSI off a bare `cast` would
    * silently null the value (data corruption at the id-merge
    * boundary); with ANSI on the guard fires first with the richer
    * column + value message. Map-side, codegen'd — no extra job.
    */
  def matchTypes(dbDf: DataFrame, target: StructType): DataFrame = {
    val targetByName = target.fields.map(f => f.name -> f.dataType).toMap
    dbDf.select(dbDf.columns.map { c =>
      targetByName.get(c) match {
        case Some(dt) if dt != dbDf.schema(c).dataType =>
          val orig = quoted(c)
          when(orig.isNotNull && orig.try_cast(dt).isNull,
            raise_error(concat(
              lit(s"MatchDatatypesError: column `$c` value '"),
              orig.cast("string"),
              lit(s"' does not cast to ${dt.sql}"))))
            .otherwise(orig.cast(dt)).as(c)
        case _ => quoted(c)
      }
    }: _*)
  }

  /** A6 (`dataframe_operations.py:106-161`): left equi-join of data
    * with `(pk-as-alias, cols...)` fetched from the database, joining
    * on all shared columns with null-safe equality (`<=>`, matching
    * the reference's `nulls_equal=True`), then guards:
    *   - no row loss (left join invariant, asserted anyway),
    *   - no duplication unless `allowDuplication`,
    *   - no null ids after the join ([[MissingKeysAfterMergeError]]).
    * The db side is broadcast: retrieved id tables are deduped
    * dimension rows, small next to the data.
    */
  def mergeIds(
      df: DataFrame,
      dbDf: DataFrame,
      alias: String,
      table: String,
      allowDuplication: Boolean = false,
  ): DataFrame = {
    require(dbDf.columns.contains(alias),
      "Provided alias not found in fetch from database.")
    val onColumns = df.columns.toSeq.intersect(dbDf.columns.toSeq)

    val l = df.alias("l")
    val r = broadcast(matchTypes(dbDf, df.schema).alias("r"))

    val cond: Column = onColumns
      .map(c => col(s"l.`$c`") <=> col(s"r.`$c`"))
      .reduceOption(_ && _)
      .getOrElse(lit(true))

    val joined = l.join(r, cond, "left")
      .select(df.columns.map(c => col(s"l.`$c`")) :+ col(s"r.`$alias`").as(alias): _*)
      .cache()
    try {
      val origLen = df.count()
      // row count + null-id count in one aggregation job
      val stats = joined.agg(count(lit(1)).as("n"),
        sum(when(quoted(alias).isNull, 1L).otherwise(0L)).as("nn")).first()
      val newLen = stats.getLong(0)
      val nullIds = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      assert(newLen >= origLen, "Rows were lost when joining on ids.")
      if (newLen != origLen && !allowDuplication)
        throw new AssertionError("Rows were duplicated when joining on ids.")

      if (nullIds > 0) {
        val sample = joined.filter(quoted(alias).isNull).limit(20).collect()
          .mkString("\n")
        throw new MissingKeysAfterMergeError(
          s"When reading from $table Some id's were returned as NA:\n$sample\n" +
            "Check if the uniqueness assumptions you made in your database schema are correct, " +
            "or whether your made a mistake in your schema definitions somewhere.")
      }
      joined
    } catch {
      case e: Throwable => joined.unpersist(); throw e
    }
  }

  /** A7 (`dataframe_operations.py:19-56`): set-containment compare of
    * data rows vs database rows. The reference materializes dicts and
    * does list membership — set semantics with nulls equal. Spark's
    * `except` is exactly that (distinct + null-safe), evaluated
    * distributed with two anti-join-shaped plans.
    *
    * `exact=true`: mutual containment, else [[CompareNoExactMatchError]].
    * `exact=false`: drop null-bearing data rows, then require
    * data ⊆ db, else [[CompareMissingRowsError]].
    */
  def compareFrames(df: DataFrame, dbDf: DataFrame, exact: Boolean = true): Unit = {
    // na.drop() is a no-op on null-free data — no need for a separate
    // null-probe job first
    val data = if (!exact) df.na.drop() else df
    val db = dbDf.select(data.columns.map(quoted): _*)

    if (exact) {
      // both difference directions in one job
      val diff = data.except(db).limit(20).withColumn("_side", lit("data"))
        .unionByName(db.except(data).limit(20).withColumn("_side", lit("db")))
        .collect()
      val missing = diff.filter(_.getAs[String]("_side") == "data")
      val extra = diff.filter(_.getAs[String]("_side") == "db")
      if (missing.nonEmpty || extra.nonEmpty)
        throw new CompareNoExactMatchError(
          "Datasets do not match exactly.\nRows in data and not in db:\n" +
            missing.mkString("\n") + "\nRows in db and not in data:\n" +
            extra.mkString("\n") +
            "\n\nConsider adding a WHERE clause to filter out irrelevant data." +
            "\nNote: if this happens due to your data containing missings and your " +
            "database not allowing those, set exact=False")
    } else {
      val missing = data.except(db).limit(20).collect()
      if (missing.nonEmpty)
        throw new CompareMissingRowsError(
          s"Some rows from data were not found in the database:\n${missing.mkString("\n")}")
    }
  }

  /** A11 (`dataframe_operations.py:33-34`): drop rows containing any
    * null (used under `exact=false` compare).
    */
  def dropNulls(df: DataFrame): DataFrame = df.na.drop()

  /** A8 (`connector.py:280-282`): drop a table's natural columns after
    * id retrieval; Spark's `drop` is already tolerant of absent
    * columns (reference regression `tests/test_bugs.py:192-220`).
    */
  def dropReplaced(df: DataFrame, columns: Seq[String]): DataFrame =
    df.drop(columns: _*)

  /** Backtick-quoted column reference — column names may contain dots
    * (`table.column` prefixes flow through the load pipeline).
    */
  def quoted(name: String): Column = col(s"`$name`")
}
