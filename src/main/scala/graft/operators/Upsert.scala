package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Incremental-load merge (SCD type 1): the reference's jobs are full
 * loads (TRUNCATE_DESTINATION + LOAD); the natural extension a user
 * needs next is "apply this update batch to the destination, keeping
 * the newest row per key". Without a transactional table format,
 * Spark-first upsert is a keyed window dedup over
 * (existing ∪ updates) followed by a destination overwrite.
 *
 * Scale posture: ONE shuffle on the merge keys (the window partition);
 * no driver-side diffing, no per-row lookups. Deterministic: ties on
 * the version column resolve to the UPDATE side, then to arbitrary-
 * but-stable input order only if versions AND sides tie (callers
 * wanting total determinism pass a unique version).
 */
object Upsert {

  /** Keep, per key, the row with the highest `versionCol`; on version
    * ties the updates side wins. Both frames must share a schema
    * (unionByName). `keys` may include a column derived only from the
    * other keys (e.g. a hash bucket of them): it groups the same rows. */
  def keepLatest(existing: DataFrame, updates: DataFrame, keys: Seq[String],
                 versionCol: String): DataFrame =
    latestPerKey(unionTagged(existing, updates), keys, versionCol)

  /** `existing ∪ updates`, each row tagged with its side in `_src`
    * (0 = existing, 1 = updates): the input [[latestPerKey]] folds. */
  def unionTagged(existing: DataFrame, updates: DataFrame): DataFrame =
    existing.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))

  /** [[keepLatest]]'s fold over a [[unionTagged]] frame; drops the
    * tag. Split out so a caller can hash-partition the union once, on
    * a column of `keys`, before the fold: the window then needs no
    * exchange of its own. */
  def latestPerKey(tagged: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    require(keys.nonEmpty, "keepLatest needs at least one merge key")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(desc(versionCol), desc("_src"))
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** Anti-join form: rows of `existing` whose key does NOT appear in
    * `updates`, unioned with all of `updates` — equivalent to
    * keepLatest when every update is newer; cheaper when the update
    * batch is small enough to broadcast (AQE decides). */
  def applyBatch(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "applyBatch needs at least one merge key")
    existing.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)
  }

  /**
   * SCD type 2 (history-preserving): apply one update batch to a
   * dimension whose rows carry [validFrom, validTo) validity — the
   * current row has validTo null. Updated keys get their CURRENT row
   * closed at the update's `asOf` timestamp and a new open row
   * appended; history rows and untouched keys pass through.
   *
   * One keyed join against the (deduped) update batch + a union —
   * same shuffle budget as keepLatest. `updates` must carry the key
   * and attribute columns plus an `asOf` timestamp column named
   * `validFrom` on output.
   */
  def scd2Apply(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame = {
    require(keys.nonEmpty, "scd2Apply needs at least one merge key")
    val newFrom = updates.select((keys.map(col) :+ col(validFrom).as("_new_from")): _*).distinct()
    // close the current row of updated keys; leave history rows alone
    val closed = dim.join(newFrom, keys, "left_outer")
      .withColumn(validTo,
        when(col(validTo).isNull && col("_new_from").isNotNull, col("_new_from"))
          .otherwise(col(validTo)))
      .drop("_new_from")
    val opened = updates.withColumn(validTo, lit(null).cast(closed.schema(validTo).dataType))
    closed.unionByName(opened.select(closed.columns.map(col).toIndexedSeq: _*))
  }

  /**
   * Apply a CDC change batch WITH DELETES: `changes` carries the key
   * columns, a version column, an op column ('D' = delete, anything
   * else = upsert) and the payload. Final state per key = the
   * highest-version record ACROSS (existing ∪ changes) — if that
   * winner is a delete, the key is absent; otherwise its payload
   * stands. This is the missing half of [[keepLatest]]: a keyed
   * MERGE target fed by a debezium-style feed converges through this
   * exactly (replays idempotent for the keepLatest reason — max
   * version per key is split- and order-independent given unique
   * versions).
   *
   * `existing` rows are treated as non-delete records at their own
   * stored version (the destination is itself the product of prior
   * CDC applies, so it carries versionCol); a change only wins with
   * a strictly-newer-or-tied version. ONE keyed shuffle, same budget
   * as keepLatest.
   *
   * SINGLE-APPLY READ VIEW: tombstones are filtered from the output,
   * so this result must NOT be fed back as the next apply's
   * `existing` — a delete winning this batch followed by a late,
   * OLDER-version upsert in the next batch would resurrect the
   * deleted key (the classic CDC-sink bug). For chained incremental
   * applies, thread [[applyCdcState]]'s output (which PERSISTS
   * tombstones as state rows, like [[graft.streaming.EventStreams.cdcStream]])
   * and filter only at final read time.
   */
  def applyCdc(existing: DataFrame, changes: DataFrame, keys: Seq[String],
               versionCol: String, opCol: String): DataFrame =
    applyCdcState(existing, changes, keys, versionCol, opCol)
      .filter(col(opCol) =!= "D").drop(opCol)

  /**
   * The composable state form of [[applyCdc]]: returns the merged
   * state WITH tombstone rows retained (the op column stays in the
   * schema), so chained applies are split- and order-independent —
   * applyCdcState(applyCdcState(E, B1), B2) equals
   * applyCdcState(E, B1 ∪ B2) for unique versions, because the kept
   * record per key is simply the max-version record and a tombstone
   * is just a record. An `existing` frame without the op column
   * (a pre-CDC destination) is lifted to all-'U'; one that already
   * carries it (a prior applyCdcState output) passes through as-is.
   */
  def applyCdcState(existing: DataFrame, changes: DataFrame, keys: Seq[String],
                    versionCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "applyCdcState needs at least one merge key")
    val base =
      if (existing.columns.contains(opCol)) existing
      else existing.withColumn(opCol, lit("U"))
    keepLatest(base, changes, keys, versionCol)
  }

  /**
   * Change-data capture between two loads of the same keyed table:
   * every key classified INSERT (new only), DELETE (old only), UPDATE
   * (present in both, any non-key column differs, null-safely) or
   * UNCHANGED. Output: the key columns (coalesced across sides) +
   * `change_type`. This is the "what changed since yesterday's load"
   * question a config-driven loader gets asked constantly; feeding the
   * INSERT/UPDATE subset to `keepLatest` gives an incremental load
   * that moves only the delta.
   *
   * Scale posture: ONE null-safe full outer join on the keys — the
   * keyed-shuffle cost and nothing else; column comparison is a
   * struct equality evaluated where the join ran, no second pass.
   */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(oldDf.columns.toSet == newDf.columns.toSet,
      s"snapshots must share a schema: ${oldDf.columns.mkString(",")} vs ${newDf.columns.mkString(",")}")
    val nonKeys = oldDf.columns.filterNot(keys.contains).toSeq
    // marker name guaranteed absent from the input: prefixing is
    // injective (prefix + name), so "_o_" + marker can only collide
    // with "_o_" + some input column if that column IS the marker —
    // grow the candidate until it matches nothing (an input column
    // literally named "__diff_present__" would otherwise be ambiguous)
    val marker = Iterator.iterate("__diff_present__")(_ + "_")
      .dropWhile(oldDf.columns.contains).next()
    def side(df: DataFrame, p: String) =
      df.select((df.columns.toSeq.map(c => col(c).as(s"$p$c")) :+
        lit(true).as(s"$p$marker")): _*)
    val o = side(oldDf, "_o_")
    val n = side(newDf, "_n_")
    val joinCond = keys.map(k => col(s"_o_$k") <=> col(s"_n_$k")).reduce(_ && _)
    def pack(p: String) = struct(nonKeys.map(c => col(s"$p$c")): _*)
    val sameCols =
      if (nonKeys.isEmpty) lit(true) else pack("_o_") <=> pack("_n_")
    o.join(n, joinCond, "full_outer")
      .withColumn("change_type",
        when(col(s"_o_$marker").isNull, lit("INSERT"))
          .when(col(s"_n_$marker").isNull, lit("DELETE"))
          .when(sameCols, lit("UNCHANGED"))
          .otherwise(lit("UPDATE")))
      .select(keys.map(k => coalesce(col(s"_n_$k"), col(s"_o_$k")).as(k)) :+
        col("change_type"): _*)
  }

  /**
   * Late-arriving dimension resolution: a fact feed routinely lands
   * BEFORE the dimension row it references (the order books before
   * the nightly customer extract ships). The warehouse answer is the
   * inferred-member pattern: unresolved facts keep a placeholder
   * surrogate and are RE-RESOLVED when later dimension slices arrive,
   * never dropped and never blocking the load.
   *
   * Each call resolves `facts` against one arrived dimension slice:
   * facts already carrying a real value pass through untouched;
   * placeholder facts left-join the new slice and pick up its value
   * where present. Iterating over arriving slices is associative —
   * the final state equals a single join against the full dimension
   * for every key that ever arrives, placeholder for the rest (the
   * gate pins exactly that equality).
   *
   * Scale: each pass shuffles ONLY the still-unresolved facts (an
   * ever-shrinking subset) against the NEW slice (delta-sized, AQE
   * broadcasts it in the common case); resolved facts are a pass-
   * through union with no shuffle.
   *
   * Pending/resolved classification is NULL-SAFE (`<=>`): a fact whose
   * dim value is NULL is not the placeholder, so it passes through the
   * resolved branch untouched (unless the placeholder itself is NULL,
   * in which case exactly the NULL rows are the pending set). Either
   * way every input row lands in exactly one branch — the
   * never-dropped contract holds for NULL values too.
   */
  def lateArrivingResolve(facts: DataFrame, dimSlice: DataFrame, key: String,
                          dimVal: String, placeholder: Column): DataFrame = {
    val isPending = col(dimVal) <=> placeholder
    val resolved = facts.filter(!isPending)
    val pending = facts.filter(isPending).drop(dimVal)
    val repaired = pending
      .join(dimSlice.select(col(key), col(dimVal).as("_new_v")), Seq(key), "left")
      .withColumn(dimVal, coalesce(col("_new_v"), placeholder))
      .drop("_new_v")
    resolved.unionByName(repaired.select(resolved.columns.map(col): _*))
  }
}
