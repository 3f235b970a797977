package graft.engine.cdc

import java.sql.{Connection, DriverManager}

/** JDBC-backed control plane over embedded Derby — the engine port of
  * the reference's PL/SQL control surface with REAL DDL instead of an
  * in-memory stub:
  *
  *  - queue (reference sql/queue DDL scripts): a physical queue table
  *    `(q_name, msg, ts)`; `clearQueue` is literally the reference's
  *    `delete from <table> where q_name = '<queue>'`
  *    (clear_queue.sql:1-3)
  *  - trigger (reference sql/trigger DDL scripts): a REAL database trigger
  *    on the captured table that inserts the changed row's key into
  *    the queue table — Derby has no ALTER TRIGGER ENABLE/DISABLE, so
  *    enabled == the trigger object exists in SYS.SYSTRIGGERS
  *    (enable creates it, disable drops it; existence of the CCD's
  *    trigger REGISTRATION is tracked separately, mirroring the
  *    reference's has_trigger vs trigger_enabled distinction,
  *    trigger_exists.sql / trigger_enabled.sql)
  *
  * Like [[JdbcSeedSource]], capturable tables are declared up front
  * (physical table + key column); everything else is driven by the
  * [[Initializer]] exactly as with the in-memory plane — the spec runs
  * the full prepare→enable→capture cycle and watches a live INSERT
  * flow into the queue table through the trigger.
  */
class JdbcControlPlane(
    url: String,
    /** table ref → (physical table, key column routed into the queue) */
    tables: Map[String, (String, String)]) extends ControlPlane {

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Names interpolated into DDL must be plain identifiers — queue and
    * queue-table names arrive from externally-submitted CCDs, and the
    * reference binds its parameters (create_queue.sql `:table`/`:name`)
    * rather than splicing them. A violation throws, which the
    * initializer's prepare() converts into an `error` STATE — so a
    * hostile control message degrades like any other invalid spec
    * instead of reaching the database. */
  private val Ident = """^[A-Za-z][A-Za-z0-9_$#]*$""".r
  private def checkIdent(name: String): String = name match {
    case Ident() => name
    case _ => throw new IllegalArgumentException(
      s"not a valid identifier: '$name'")
  }

  private def exec(sql: String): Unit = withConn(_.createStatement().execute(sql))

  private def tableExists(name: String): Boolean = withConn { c =>
    val rs = c.getMetaData.getTables(null, null, name.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  // registry of created triggers: ccd table ref → (trigger name, queue, queue table)
  withConn { c =>
    if (!tableExists("GRAFT_TRIGGERS"))
      c.createStatement().execute(
        """CREATE TABLE GRAFT_TRIGGERS (
          |  table_ref VARCHAR(128) PRIMARY KEY,
          |  trg_name VARCHAR(128), queue VARCHAR(128),
          |  queue_table VARCHAR(128))""".stripMargin)
    if (!tableExists("GRAFT_QUEUES"))
      c.createStatement().execute(
        """CREATE TABLE GRAFT_QUEUES (
          |  queue VARCHAR(128) PRIMARY KEY, queue_table VARCHAR(128))""".stripMargin)
  }

  private def trgName(table: String): String =
    "GRAFT_TRG_" + Identifiers.stripSchema(table).toUpperCase

  private def registryRow(table: String): Option[(String, String, String)] =
    withConn { c =>
      val ps = c.prepareStatement(
        "SELECT trg_name, queue, queue_table FROM GRAFT_TRIGGERS WHERE table_ref = ?")
      ps.setString(1, table)
      val rs = ps.executeQuery()
      if (rs.next()) Some((rs.getString(1), rs.getString(2), rs.getString(3))) else None
    }

  def triggerExists(table: String): Boolean = registryRow(table).isDefined

  def createTrigger(table: String, queue: String, queueTable: String): Unit = {
    require(tables.contains(table), s"unknown capturable table $table")
    withConn { c =>
      val ps = c.prepareStatement("INSERT INTO GRAFT_TRIGGERS VALUES (?, ?, ?, ?)")
      ps.setString(1, table); ps.setString(2, trgName(table))
      ps.setString(3, queue); ps.setString(4, queueTable)
      ps.executeUpdate()
    }
  }

  /** Re-arms the trigger using the REGISTERED routing — deliberately
    * reference-faithful (core.clj:84-87): ensure-trigger on an
    * existing registration only disables, never re-creates, so a
    * resubmission that names a DIFFERENT queue/queue-table re-arms
    * the original routing while the new seed lands in the new topic.
    * Operators changing a capture's routing must drop the old trigger
    * registration first (the reference has the same contract). */
  def enableTrigger(table: String): Unit = {
    val (name, queue, queueTable0) = registryRow(table)
      .getOrElse(throw new IllegalStateException(s"no trigger for $table"))
    val queueTable = checkIdent(queueTable0)
    checkIdent(queue)
    val (dbTable, keyCol) = tables(table)
    if (!triggerEnabled(table))
      exec(
        s"""CREATE TRIGGER $name AFTER INSERT ON $dbTable
           |REFERENCING NEW AS n FOR EACH ROW
           |INSERT INTO $queueTable (q_name, msg, ts) VALUES
           |('$queue', RTRIM(CAST(CAST(n.$keyCol AS CHAR(64)) AS VARCHAR(64))),
           | CURRENT_TIMESTAMP)""".stripMargin)
  }

  def disableTrigger(table: String): Unit =
    registryRow(table).foreach { case (name, _, _) =>
      if (triggerEnabled(table)) exec(s"DROP TRIGGER $name")
    }

  def triggerEnabled(table: String): Boolean = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT count(*) FROM SYS.SYSTRIGGERS WHERE TRIGGERNAME = ?")
    ps.setString(1, trgName(table))
    val rs = ps.executeQuery(); rs.next(); rs.getLong(1) > 0
  }

  def queueExists(queue: String): Boolean = withConn { c =>
    val ps = c.prepareStatement("SELECT count(*) FROM GRAFT_QUEUES WHERE queue = ?")
    ps.setString(1, queue)
    val rs = ps.executeQuery(); rs.next(); rs.getLong(1) > 0
  }

  def createQueue(queue: String, queueTable: String): Unit = withConn { c =>
    checkIdent(queue); checkIdent(queueTable)
    if (!tableExists(queueTable))
      c.createStatement().execute(
        s"""CREATE TABLE $queueTable (
           |  q_name VARCHAR(128), msg VARCHAR(512), ts TIMESTAMP)""".stripMargin)
    val ps = c.prepareStatement("INSERT INTO GRAFT_QUEUES VALUES (?, ?)")
    ps.setString(1, queue); ps.setString(2, queueTable)
    ps.executeUpdate()
  }

  /** The reference's clear verbatim: delete this queue's rows from its
    * queue table (clear_queue.sql:1-3). */
  def clearQueue(queue: String): Unit = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT queue_table FROM GRAFT_QUEUES WHERE queue = ?")
    ps.setString(1, queue)
    val rs = ps.executeQuery()
    if (rs.next()) {
      val qt = checkIdent(rs.getString(1))
      val del = c.prepareStatement(s"DELETE FROM $qt WHERE q_name = ?")
      del.setString(1, queue)
      del.executeUpdate()
    }
  }
}
