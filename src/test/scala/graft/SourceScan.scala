package graft

/** Source lint over `src/main/scala`: the lines that contain any of
  * `needles`, as `path:line: needle`, in every Scala file but `except`
  * (a path under `src/main/scala`, which must exist — the one place the
  * needles are allowed; none when omitted).
  */
object SourceScan {
  def find(needles: Seq[String], except: Option[String] = None): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    require(root.isDirectory,
      s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    val allowed = except.map(new java.io.File(root, _))
    allowed.foreach(a => require(a.isFile, s"$a not found"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    for {
      f <- files(root) if !allowed.exists(_.getCanonicalFile == f.getCanonicalFile)
      (line, n) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
      c <- needles if line.contains(c)
    } yield s"${f.getPath}:${n + 1}: $c"
  }
}
