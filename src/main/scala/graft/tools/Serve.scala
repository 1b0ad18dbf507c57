package graft.tools

import org.apache.spark.sql.SparkSession

import graft.server.{AuthSessions, GraftServer}

/**
 * Operational entry point: run the engine as a server — every transport the
 * reference's `Server` binds (HTTP, WebSocket, TCP, UDP) over one store.
 *
 * Usage:
 *   Serve <dataDir> <metaDir> [httpPort wsPort tcpPort udpPort]
 *         [--users user:pass:auth1|auth2,...] [--no-anonymous]
 *
 * Port 0 (the default) picks ephemeral ports, printed on startup. With
 * `--users`, login + per-caller visibility enforcement are active on the
 * HTTP/WS surfaces; `--no-anonymous` additionally refuses sessionless
 * callers (SecurityProperties.allowAnonymous* in the reference).
 *
 * A port that cannot be bound ends it with the bind error. The shutdown
 * hook stops Spark once every transport has finished what it read.
 */
object Serve {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    val rest = args.filterNot(_.startsWith("--"))
    require(rest.length >= 2, "usage: Serve <dataDir> <metaDir> [httpPort wsPort tcpPort udpPort] [--users u:p:a|b,...] [--no-anonymous]")
    val Array(dataDir, metaDir) = rest.take(2)
    def port(i: Int) = rest.lift(2 + i).map(_.toInt).getOrElse(0)
    val users = flags.find(_.startsWith("--users")).map { f =>
      f.stripPrefix("--users").stripPrefix("=").split(",").map { spec =>
        spec.split(":") match {
          case Array(u, p)        => u -> AuthSessions.User(p, Seq.empty)
          case Array(u, p, auths) => u -> AuthSessions.User(p, auths.split("\\|").toSeq)
          case _ => throw new IllegalArgumentException(s"bad user spec: $spec")
        }
      }.toMap
    }
    val sessions = users.map(new AuthSessions(_,
      allowAnonymous = !flags.contains("--no-anonymous")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = new GraftServer(spark, dataDir, metaDir, sessions)
    val ports = server.start(port(0), port(1), port(2), port(3))
    println(s"graft serving: http=${ports.http} ws=${ports.ws} tcp=${ports.tcp} udp=${ports.udp}")
    sys.addShutdownHook { server.stop(); spark.stop() }
    Thread.currentThread().join() // serve until killed
  }
}
