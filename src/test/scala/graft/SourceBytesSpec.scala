package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source files stay plain text: a raw C0 control byte inside a literal
  * makes grep/rg classify the whole file as binary and skip it in code
  * search. Write such characters as unicode escapes in the literal instead. */
class SourceBytesSpec extends AnyFunSuite {

  test("no file under src/ contains a C0 control byte other than tab, LF or CR") {
    val root = java.nio.file.Paths.get("src")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root (cwd=${sys.props("user.dir")})")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
    assert(files.exists(_.toString.endsWith(".scala")), "no sources found under src/")
    val offenders = files.flatMap { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      val i = bytes.indexWhere(b => b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r')
      if (i < 0) None else Some(f"$p (byte 0x${bytes(i)}%02x at offset $i)")
    }
    assert(offenders.isEmpty, offenders.mkString("control bytes in: ", ", ", ""))
  }
}
