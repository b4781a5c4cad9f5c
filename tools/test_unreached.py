#!/usr/bin/env python3
"""Tests for tools/unreached.py over a small fixture tree.

Usage: python3 tools/test_unreached.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import unreached  # noqa: E402

FILES = {
    "src/main/scala/app/Main.scala": '''
package app

import app.util.Helpers

object Main {
  // Helpers.commentOnly() is a comment, not a call
  def main(args: Array[String]): Unit = {
    val conf = Map("spark.sql.extensions" -> "app.ext.ConfExt")
    println(s"${Helpers.used(1)} and not Helpers.inString")
  }
}
''',
    "src/main/scala/app/util/Helpers.scala": '''
package app.util

object Helpers {
  def used(x: Int): Int = x + 1

  /** Called only from src/test. */
  def testOnly(x: Int): Int = x * 2

  /** Called only by chained, which nothing reaches. */
  def chainedHelper(x: Int): Int = x - 1

  def chained(x: Int): Int =
    chainedHelper(x)

  def commentOnly(): Unit = ()

  def inString(): Unit = ()

  def recursive(n: Int): Int = if (n == 0) 0 else recursive(n - 1)
}
''',
    "src/main/scala/app/ext/Loaded.scala": '''
package app.ext

class ConfExt extends (String => Unit) {
  override def apply(s: String): Unit = ExtSupport.run(s)
}

object ExtSupport {
  def run(s: String): Unit = ()
}

class ResourceFs extends java.io.Closeable {
  override def close(): Unit = ()
}

class NamedNowhere

class UserExt extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = ExtFunctions.inject(e)
}

object ExtFunctions {
  def inject(e: SparkSessionExtensions): Unit = ()
}
''',
    "src/main/scala/app/bench/Driven.scala": '''
package app.bench

object DrivenByPerfbench {
  def go(): Int = 1
}
''',
    "src/main/resources/site.xml":
        "<value>app.ext.ResourceFs</value>\n",
    "src/test/scala/app/HelpersSpec.scala": '''
package app
class HelpersSpec { assert(app.util.Helpers.testOnly(1) == 2) }
''',
    "perfbench/src/main/scala/pb/Main.scala": '''
package pb
object PbMain { def main(a: Array[String]): Unit =
  app.bench.DrivenByPerfbench.go() }
''',
}


class UnreachedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        for rel, text in FILES.items():
            path = os.path.join(cls.tmp.name, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
        defs = unreached.analyse(cls.tmp.name)
        cls.listed = {d.qualified()
                      for d in unreached.outermost_unreached(defs)}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_def_called_only_from_tests_is_listed(self):
        self.assertIn("Helpers.testOnly", self.listed)

    def test_def_called_only_by_an_unreached_def_is_listed(self):
        self.assertIn("Helpers.chained", self.listed)
        self.assertIn("Helpers.chainedHelper", self.listed)

    def test_names_in_comments_strings_and_own_body_do_not_reach(self):
        self.assertIn("Helpers.commentOnly", self.listed)
        self.assertIn("Helpers.inString", self.listed)
        self.assertIn("Helpers.recursive", self.listed)
        self.assertNotIn("Helpers.used", self.listed)

    def test_classes_named_in_a_resource_or_conf_string_are_not_listed(self):
        for name in ("ConfExt", "ConfExt.apply", "ExtSupport",
                     "ResourceFs", "ResourceFs.close"):
            self.assertNotIn(name, self.listed)
        self.assertIn("NamedNowhere", self.listed)

    def test_session_extension_named_in_no_conf_is_not_listed(self):
        for name in ("UserExt", "UserExt.apply", "ExtFunctions",
                     "ExtFunctions.inject"):
            self.assertNotIn(name, self.listed)

    def test_object_called_only_from_perfbench_is_not_listed(self):
        self.assertNotIn("DrivenByPerfbench", self.listed)
        self.assertNotIn("DrivenByPerfbench.go", self.listed)

    def test_nothing_else_is_listed(self):
        self.assertEqual(
            self.listed,
            {"Helpers.testOnly", "Helpers.chained", "Helpers.chainedHelper",
             "Helpers.commentOnly", "Helpers.inString", "Helpers.recursive",
             "NamedNowhere"})

    def test_exits_1_while_an_unjustified_entry_remains(self):
        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "unreached.py")
        run = subprocess.run([sys.executable, tool, self.tmp.name],
                             capture_output=True, text=True)
        self.assertEqual(run.returncode, 1, run.stdout)
        self.assertIn("unjustified: 7", run.stdout)


if __name__ == "__main__":
    unittest.main()
