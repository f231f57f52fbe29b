package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained GROUP BY aggregate view — the reference's
  * Gold-table signed-delta algorithm
  * (/root/reference/notebooks/demo-notebook.py:386-425) generalized
  * from the demo's hard-wired `(country, sum_visitors)` into a
  * reusable, self-describing component over ANY CDF-enabled source:
  *
  *   `V = SELECT g…, count(*) AS n_rows, sum(e1) AS s1, …,
  *        min(e) AS m…, max(e) AS M…
  *        FROM source GROUP BY g…`
  *
  * maintained from the source's change feed:
  *
  *   1. changes since the recorded watermark get sign −1 for
  *      `update_preimage`/`delete`, +1 otherwise (the demo's CASE,
  *      demo-notebook.py:401-413);
  *   2. one hash aggregation folds them to per-group deltas —
  *      O(changed rows), never a source scan (COUNT and SUM are
  *      self-maintainable: the delta is all the information needed);
  *   3. a three-clause additive [[Merge]] applies them: a group whose
  *      row count reaches zero is DELETED (the demo never shrinks;
  *      a correct general view must), surviving groups update
  *      additively, new groups insert.
  *
  * == AVG ==
  * AVG is fully self-maintainable THROUGH its exact components: the
  * view stores `asum_<name>` (exact numerator, same integer/DECIMAL
  * rule as sums) and `acnt_<name>` (non-null count), maintains both
  * additively, and re-derives the double `avg_<name>` at every merge —
  * one double division over exact operands is portable across engines,
  * while folding doubles incrementally would not be.
  *
  * == MIN/MAX ==
  * MIN/MAX are only SEMI-maintainable: growth combines freely
  * (`least(current, batch_min)`), but a delete/update may remove the
  * extreme, and the delta alone cannot say what the next-best value
  * was. The refresh therefore recomputes min/max from the source FOR
  * EXACTLY THE GROUPS THE BATCH SHRANK (any −1-signed row) and
  * combines for everyone else — O(changed rows + source rows of shrunk
  * groups), still never an unconditional source scan. A single group
  * column's shrunk keys scope the recompute read through
  * [[KeyScope.read]], so it benefits from the source's file skipping
  * (stats/bucket hashes/blooms) up to [[VersionedTable.KEY_PRUNE_MAX]]
  * keys, the same pruning [[JoinView]]'s refresh uses.
  *
  * The additive update is NOT idempotent, so — unlike
  * [[JoinView]]'s convergent recompute — exactly-once rests on the
  * merge txn guard: the source version rides as the batch id and a
  * replayed refresh is a structural no-op (SURVEY §7.5 risk 1, the
  * same guard the Gold stream uses).
  *
  * Sum expressions must be exact types (integers / DECIMAL) for the
  * incremental result to equal a from-scratch recompute bit-for-bit —
  * double addition is order-sensitive and an incrementally-built double
  * sum drifts from a scan-order sum (AggViewSpec pins the invariant;
  * the q_agg_view oracle hashes it cross-engine via integer cents).
  * MIN/MAX carry no such restriction: they select an existing value
  * rather than fold, so any orderable type is exact.
  */
final class AggView private (
    val table: VersionedTable,
    groupCols: Seq[String],
    sums: Seq[(String, String)],
    mins: Seq[(String, String)],
    maxs: Seq[(String, String)],
    avgs: Seq[(String, String)]) {
  import AggView._

  private def spark: SparkSession = table.spark

  /** (view column, source expression, isMin) for both extreme kinds. */
  private def extremes: Seq[(String, String, Boolean)] =
    mins.map { case (n, e) => (s"min_$n", e, true) } ++
      maxs.map { case (n, e) => (s"max_$n", e, false) }

  /** `avg_<name>` from its exact numerator/denominator, null for an
    * empty denominator (no non-null source values). Both operands are
    * BIGINT so the one double division happens identically in any
    * engine — the stored avg is portable even though doubles are not
    * additively maintainable. */
  private def avgExpr(name: String): Column =
    when(col(s"acnt_$name") === 0L, lit(null))
      .otherwise(col(s"asum_$name").cast("double") / col(s"acnt_$name"))

  /** Per-group deltas of one change batch (`sums` exprs evaluate
    * against source-shaped change rows). For extremes: the batch's
    * grown-side min/max plus a `__shrunk` flag marking groups whose
    * true extreme needs a source recompute. */
  private def deltas(changes: DataFrame): DataFrame = {
    val sign = when(
      col("_change_type").isin("update_preimage", "delete"), lit(-1L))
      .otherwise(lit(1L))
    changes
      .withColumn("__sign", sign)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("__sign")).as("d_n"),
        sums.map { case (name, e) =>
          sum(col("__sign") * expr(e)).as(s"d_$name")
        } ++
        avgs.flatMap { case (name, e) =>
          // numerator and non-null count maintain additively; the
          // stored avg re-derives from them at merge time
          Seq(sum(col("__sign") * expr(e)).as(s"d_asum_$name"),
            sum(when(expr(e).isNotNull, col("__sign")).otherwise(lit(0L)))
              .as(s"d_acnt_$name"))
        } ++
        extremes.map { case (alias, e, isMin) =>
          val grown = when(col("__sign") === 1L, expr(e))
          (if (isMin) min(grown) else max(grown)).as(s"b_$alias")
        } ++
        (if (extremes.isEmpty) Seq.empty[Column]
         else Seq(max(when(col("__sign") === -1L, lit(true))
           .otherwise(lit(false))).as("__shrunk"))): _*)
  }

  private def clauses: Seq[MergeClause] = {
    // the post-merge exact avg components, shared by the derived avg
    def upAsum(name: String) =
      coalesce(col(s"target.asum_$name"), lit(0L)) +
        coalesce(col(s"source.d_asum_$name"), lit(0L))
    def upAcnt(name: String) =
      coalesce(col(s"target.acnt_$name"), lit(0L)) +
        coalesce(col(s"source.d_acnt_$name"), lit(0L))
    Seq(
      WhenMatchedDelete(Some(col("target.n_rows") + col("source.d_n") === 0L)),
      WhenMatchedUpdate(set =
        Map("n_rows" -> (col("target.n_rows") + col("source.d_n"))) ++
          sums.map { case (name, _) =>
            s"sum_$name" ->
              (coalesce(col(s"target.sum_$name"), lit(0L)) +
                coalesce(col(s"source.d_$name"), lit(0L)))
          } ++
          avgs.flatMap { case (name, _) =>
            Seq(s"asum_$name" -> upAsum(name),
              s"acnt_$name" -> upAcnt(name),
              s"avg_$name" -> when(upAcnt(name) === 0L, lit(null))
                .otherwise(upAsum(name).cast("double") / upAcnt(name)))
          } ++
          extremes.map { case (alias, _, isMin) =>
            // shrunk groups carry the recomputed absolute value; grown
            // groups combine (least/greatest skip nulls, matching
            // min/max null semantics: min(A ∪ B) = least(minA, minB))
            alias -> when(col("source.__shrunk"), col(s"source.b_$alias"))
              .otherwise(
                if (isMin) least(col(s"target.$alias"), col(s"source.b_$alias"))
                else greatest(col(s"target.$alias"), col(s"source.b_$alias")))
          }),
      // d_n > 0 guard: a group created AND fully deleted inside one CDF
      // span nets to zero — without the guard it would insert a phantom
      // n_rows=0 row (ADVICE r7)
      WhenNotMatchedInsert(
        condition = Some(col("source.d_n") > 0L),
        values =
          groupCols.map(g => g -> col(s"source.$g")).toMap ++
            Map("n_rows" -> col("source.d_n")) ++
            sums.map { case (name, _) =>
              s"sum_$name" -> col(s"source.d_$name")
            } ++
            avgs.flatMap { case (name, _) =>
              Seq(s"asum_$name" -> coalesce(col(s"source.d_asum_$name"), lit(0L)),
                s"acnt_$name" -> coalesce(col(s"source.d_acnt_$name"), lit(0L)),
                s"avg_$name" ->
                  when(coalesce(col(s"source.d_acnt_$name"), lit(0L)) === 0L,
                    lit(null))
                    .otherwise(col(s"source.d_asum_$name").cast("double") /
                      col(s"source.d_acnt_$name")))
            } ++
            extremes.map { case (alias, _, _) =>
              alias -> col(s"source.b_$alias")
            }))
  }

  /** Applies all source changes the view has not seen; a replayed
    * refresh (crash + rerun) is a no-op via the txn guard. */
  def refresh(source: VersionedTable): Option[Long] = {
    val latest = source.latestVersion
    val since = table.lastTxn(APP).getOrElse(0L) + 1
    if (latest < since) return None
    val d = deltas(source.changes(since))
    if (extremes.isEmpty) {
      Merge.run(table, d, groupCols, clauses, txn = Some(APP -> latest))
      return Some(table.latestVersion)
    }
    val dp = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist after the merge consumes the recompute join — Spark's
    // CacheManager holds cached plans until explicit release, so a
    // leaked persist per refresh grows without bound under continuous
    // maintenance (ADVICE r7)
    try {
      val src = {
        // recompute extremes from CURRENT source state for exactly the
        // groups the batch shrank — the batch can't know what value
        // replaces a removed extreme
        val shrunkKeys = dp.filter(col("__shrunk"))
          .select(groupCols.map(col): _*).distinct()
        val block =
          if (groupCols.length == 1) KeyScope(shrunkKeys).read(source)
          else source.snapshot().join(shrunkKeys, groupCols, "left_semi")
        val recomputed = block.groupBy(groupCols.map(col): _*)
          .agg(extremes.head match { case (alias, e, isMin) =>
            (if (isMin) min(expr(e)) else max(expr(e))).as(s"r_$alias") },
            extremes.tail.map { case (alias, e, isMin) =>
              (if (isMin) min(expr(e)) else max(expr(e))).as(s"r_$alias")
            }: _*)
        val joined = dp.join(recomputed, groupCols, "left")
        // a shrunk group's merge value is the recomputed absolute; a
        // grown-only group keeps its batch extreme for combining
        extremes.foldLeft(joined) { case (df, (alias, _, _)) =>
          df.withColumn(s"b_$alias",
              when(col("__shrunk"), col(s"r_$alias"))
                .otherwise(col(s"b_$alias")))
            .drop(s"r_$alias")
        }
      }
      Merge.run(table, src, groupCols, clauses, txn = Some(APP -> latest))
    } finally dp.unpersist()
    Some(table.latestVersion)
  }

  /** Refresh against the source recorded at build time. */
  def refresh(): Option[Long] =
    refresh(VersionedTable.load(spark,
      table.latestManifest.properties(PROP_SOURCE)))
}

object AggView {
  val APP = "agg-view"
  val PROP_GROUP_COLS = "graft.aggview.groupCols"
  val PROP_SUMS = "graft.aggview.sums"
  val PROP_MINS = "graft.aggview.mins"
  val PROP_MAXS = "graft.aggview.maxs"
  val PROP_AVGS = "graft.aggview.avgs"
  val PROP_SOURCE = "graft.aggview.source"

  private def packProp(xs: Seq[(String, String)]) =
    xs.map { case (n, e) => s"$n:$e" }.mkString(";")
  private def unpackProp(s: String): Seq[(String, String)] =
    s.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf(':')
      kv.substring(0, i) -> kv.substring(i + 1)
    }

  /** Creates the view table and computes it fully once from the
    * source's current snapshot; the definition + source path persist as
    * properties. `sums` are (name, SQL expression) pairs evaluated per
    * source row — use exact (integer / DECIMAL) expressions; `mins` /
    * `maxs` become `min_<name>` / `max_<name>` columns and may use any
    * orderable type. */
  def build(
      source: VersionedTable,
      path: String,
      groupCols: Seq[String],
      sums: Seq[(String, String)],
      mins: Seq[(String, String)] = Seq.empty,
      maxs: Seq[(String, String)] = Seq.empty,
      avgs: Seq[(String, String)] = Seq.empty): AggView = {
    require(groupCols.nonEmpty, "an aggregate view needs group columns")
    val spark = source.spark
    val full0 = source.snapshot()
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sums.map { case (name, e) => sum(expr(e)).as(s"sum_$name") } ++
        // AVG stores its exact numerator (same integer/DECIMAL rule as
        // sums) and non-null count; the double `avg_<name>` re-derives
        // from them so the incremental view never folds doubles
        avgs.flatMap { case (name, e) =>
          Seq(coalesce(sum(expr(e)), lit(0L)).as(s"asum_$name"),
            count(expr(e)).as(s"acnt_$name"))
        } ++
        mins.map { case (name, e) => min(expr(e)).as(s"min_$name") } ++
        maxs.map { case (name, e) => max(expr(e)).as(s"max_$name") }: _*)
    val full = avgs.foldLeft(full0) { case (df, (name, _)) =>
      df.withColumn(s"avg_$name",
        when(col(s"acnt_$name") === 0L, lit(null))
          .otherwise(col(s"asum_$name").cast("double") / col(s"acnt_$name")))
    }
    // all-nullable view schema: count(*) infers NOT NULL, which the
    // merge's conditional action struct (nullable by construction)
    // cannot cast into
    val viewSchema = org.apache.spark.sql.types.StructType(
      full.schema.fields.map(_.copy(nullable = true)))
    val t = VersionedTable.create(spark, path, viewSchema,
      Map(
        VersionedTable.PROP_CDF -> "true",
        PROP_GROUP_COLS -> groupCols.mkString(","),
        PROP_SUMS -> packProp(sums),
        PROP_MINS -> packProp(mins),
        PROP_MAXS -> packProp(maxs),
        PROP_AVGS -> packProp(avgs),
        PROP_SOURCE -> source.root.toAbsolutePath.toString))
    val v = new AggView(t, groupCols, sums, mins, maxs, avgs)
    t.append(full)
    // watermark: everything up to the source's current version is in
    // the full compute
    t.commitFiles(Seq.empty, Seq.empty, None, "aggview-watermark",
      extraTxn = Map(APP -> source.latestVersion))
    v
  }

  /** Loads a view from its own recorded definition. */
  def load(spark: SparkSession, path: String): AggView = {
    val t = VersionedTable.load(spark, path)
    val p = t.latestManifest.properties
    require(p.contains(PROP_GROUP_COLS),
      s"$path is not a materialized aggregate view")
    new AggView(t, p(PROP_GROUP_COLS).split(',').toSeq,
      unpackProp(p(PROP_SUMS)),
      unpackProp(p.getOrElse(PROP_MINS, "")),
      unpackProp(p.getOrElse(PROP_MAXS, "")),
      unpackProp(p.getOrElse(PROP_AVGS, "")))
  }
}
