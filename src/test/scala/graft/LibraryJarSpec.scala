package graft

import java.io.File
import java.lang.reflect.Modifier

import org.scalatest.funsuite.AnyFunSuite

/** The library jar carries the engine and its three command-line mains, no
  * evidence or probe mains (those live under `graft.tools` in the test
  * tree). */
class LibraryJarSpec extends AnyFunSuite {

  test("the only classes with a public static main(String[]) are Bench, Verify and ScaleUp") {
    val root = new File(Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(root.isDirectory, s"main output is not a class directory: $root")
    def classFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(classFiles)
      else if (f.getName.endsWith(".class")) Seq(f) else Nil
    val loader = getClass.getClassLoader
    val mains = classFiles(root).map { f =>
      root.toPath.relativize(f.toPath).toString.stripSuffix(".class")
        .replace(File.separatorChar, '.')
    }.filter { name =>
      val main = Class.forName(name, false, loader).getDeclaredMethods
        .find(m => m.getName == "main" &&
          m.getParameterTypes.sameElements(Seq(classOf[Array[String]])))
      main.exists(m => Modifier.isPublic(m.getModifiers) && Modifier.isStatic(m.getModifiers))
    }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.ScaleUp"))
  }
}
