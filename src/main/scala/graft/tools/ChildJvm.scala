package graft.tools

/** Spawn a graft tool main in a CHILD JVM with a capped heap — the
  * shape every capped-heap stress gate shares (PpjoinHeapStress since
  * r12, IncrementalHeapStress since r13): the child inherits this
  * JVM's classpath, gets the JDK-17 add-opens set from build.sbt, and
  * the gate's verdict is the child's exit code (an OOM-killed or
  * heap-exhausted child does not exit 0).
  */
object ChildJvm {

  private[graft] val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run `mainClass` with `args` under -Xmx`xmx`; true iff exit 0. */
  def runCapped(mainClass: String, args: Seq[String], xmx: String,
                tag: String): Boolean = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin, s"-Xmx$xmx") ++ AddOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    println(s"[$tag] child: -Xmx$xmx $mainClass ${args.mkString(" ")}")
    val rc = new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
    if (rc != 0) println(s"[$tag] CHILD EXIT $rc (OOM or crash)")
    rc == 0
  }
}
