package graft

/** The JDK17 `--add-opens` set Spark needs, shared by every spec that
  * forks real JVMs (local-cluster executors) — one list to extend when a
  * Spark/JDK upgrade needs another entry, instead of hand-maintained
  * copies failing one forked spec at a time with an opaque
  * InaccessibleObjectException. Mirrors build.sbt's
  * `jdk17AddOpens` (the sbt-forked test JVM's own options). */
object TestJvm {

  val openPackages: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  /** As one space-joined option string (executor extraJavaOptions). */
  val addOpensString: String =
    openPackages.map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
}
