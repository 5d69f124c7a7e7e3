package graft.sources

import java.sql.Connection

import org.apache.spark.sql.DataFrame

/** JDBC PK-upsert writer — the reference's sink connector semantics
  * (`PRIMARY KEY ... NOT ENFORCED` + continuous upsert,
  * `LogAnalysis.java:100-115,156-171,220-237`; MySQL DDL
  * `README.md:248-272`) as a `foreachBatch` body.
  *
  * Executor-side layout: `foreachPartition` opens ONE connection per
  * partition, addBatch in chunks of `batchSize` — the same shape a JDBC
  * sink uses on a 1000-executor cluster (connections scale with
  * partitions, not rows; the aggregate changelog is small anyway).
  *
  * `connect` is injectable so tests can hand in an embedded/fake
  * connection; production passes a MySQL DriverManager thunk.
  */
class JdbcUpsert(
    table: String,
    columns: Seq[String],
    keyCols: Seq[String],
    connect: () => Connection,
    batchSize: Int = 500,
    /** true → portable two-statement upsert (UPDATE; INSERT when no row
      * matched) instead of a native single-statement dialect. Works on
      * every JDBC engine (Derby has no usable MERGE-over-VALUES, old
      * Postgres no ON CONFLICT); trades the addBatch pipelining for
      * per-row round trips, so prefer a native dialect where one exists.
      *
      * CONCURRENT-ATTEMPT NOTE: key-routing (see `write`) removes the
      * intra-job same-key race, but Spark can still run the SAME
      * partition twice concurrently — speculative execution, or a task
      * retry racing a zombie first attempt. The loser's INSERT then hits
      * a PK violation; `write` recovers per row (it re-checks with a
      * second UPDATE instead of failing the task), so the mode is safe
      * under speculation — but each duplicate attempt still replays its
      * whole partition's statements, so prefer
      * `spark.speculation=false` on jobs driving two-step sinks.
      */
    updateThenInsert: Boolean = false) extends Serializable {

  require(keyCols.forall(columns.contains), "key columns must be part of the column list")
  require(columns.exists(c => !keyCols.contains(c)),
    "at least one non-key column required (an all-key upsert has no SET clause)")

  /** MySQL-dialect upsert statement (the reference's sink DDL dialect):
    * INSERT INTO t (c1,c2,...) VALUES (?,?,...)
    * ON DUPLICATE KEY UPDATE c2=VALUES(c2), ...   (non-key columns only)
    * Other engines take `updateThenInsert`.
    */
  val upsertSql: String = {
    val cols = columns.mkString(", ")
    val placeholders = columns.map(_ => "?").mkString(", ")
    val updates = columns.filterNot(keyCols.contains)
      .map(c => s"$c = VALUES($c)").mkString(", ")
    s"INSERT INTO $table ($cols) VALUES ($placeholders) ON DUPLICATE KEY UPDATE $updates"
  }

  /** UPDATE t SET nk1 = ?, ... WHERE k1 = ? AND ... */
  val updateSql: String = {
    val sets = columns.filterNot(keyCols.contains).map(c => s"$c = ?").mkString(", ")
    val where = keyCols.map(k => s"$k = ?").mkString(" AND ")
    s"UPDATE $table SET $sets WHERE $where"
  }

  /** INSERT INTO t (c1,...) VALUES (?,...) */
  val insertSql: String =
    s"INSERT INTO $table (${columns.mkString(", ")}) VALUES (${columns.map(_ => "?").mkString(", ")})"

  /** foreachBatch entry: upsert one micro-batch (or batch write) output. */
  def write(df: DataFrame, batchId: Long): Unit = {
    val (sql, uSql, iSql) = (upsertSql, updateSql, insertSql)
    val colNames = columns
    val keys = keyCols
    val bs = batchSize
    val mkConn = connect
    val twoStep = updateThenInsert
    val projected = df.select(colNames.map(org.apache.spark.sql.functions.col): _*)
    // The two-statement strategy is NOT atomic per key: two partitions
    // holding the same key would both see UPDATE hit 0 rows and both
    // INSERT, one dying on the PK violation. Co-locate each key into one
    // partition first (one exchange of the small changelog); within a
    // partition the statements run sequentially, so the race is gone.
    // Native single-statement dialects are key-atomic and skip this.
    val routed =
      if (twoStep)
        projected.repartition(keys.map(org.apache.spark.sql.functions.col): _*)
      else projected
    routed
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val conn = mkConn()
          try {
            conn.setAutoCommit(false)
            if (twoStep) {
              val nonKeyIdx = colNames.zipWithIndex.filterNot { case (c, _) => keys.contains(c) }.map(_._2)
              val keyIdx = keys.map(colNames.indexOf(_))
              val us = conn.prepareStatement(uSql)
              val is = conn.prepareStatement(iSql)
              rows.foreach { r =>
                var p = 1
                nonKeyIdx.foreach { i => us.setObject(p, r.get(i)); p += 1 }
                keyIdx.foreach { i => us.setObject(p, r.get(i)); p += 1 }
                if (us.executeUpdate() == 0) {
                  var i = 0
                  while (i < colNames.length) { is.setObject(i + 1, r.get(i)); i += 1 }
                  // PostgreSQL-family engines abort the WHOLE transaction
                  // on any statement error (every later statement fails
                  // with SQLSTATE 25P02), so the duplicate-key recovery
                  // UPDATE below would itself die without a savepoint
                  // scoping the INSERT. Engines with statement-level
                  // atomicity (MySQL, Derby) don't need it but accept it;
                  // drivers without savepoint support fall back to the
                  // old behavior (recovery works there exactly when the
                  // engine has statement-level rollback).
                  val sp =
                    try conn.setSavepoint()
                    catch { case _: java.sql.SQLException => null }
                  try {
                    is.executeUpdate()
                    if (sp != null)
                      try conn.releaseSavepoint(sp)
                      catch { case _: java.sql.SQLException => () }
                  } catch {
                    // A concurrent attempt of the SAME partition (task
                    // retry racing a zombie, or speculation) inserted the
                    // key between our UPDATE and INSERT. Converge instead
                    // of failing the task: both attempts carry identical
                    // values, so re-running the UPDATE is idempotent.
                    // 23xxx = integrity-constraint violation (SQLSTATE).
                    case e: java.sql.SQLException
                        if e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
                          Option(e.getSQLState).exists(_.startsWith("23")) =>
                      if (sp != null) conn.rollback(sp)
                      var q = 1
                      nonKeyIdx.foreach { i => us.setObject(q, r.get(i)); q += 1 }
                      keyIdx.foreach { i => us.setObject(q, r.get(i)); q += 1 }
                      if (us.executeUpdate() == 0) throw e
                  }
                }
              }
            } else {
              val st = conn.prepareStatement(sql)
              var n = 0
              rows.foreach { r =>
                var i = 0
                while (i < colNames.length) { st.setObject(i + 1, r.get(i)); i += 1 }
                st.addBatch()
                n += 1
                if (n % bs == 0) st.executeBatch()
              }
              st.executeBatch()
            }
            conn.commit()
          } finally conn.close()
        }
      }
  }
}
