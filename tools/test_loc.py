"""Tests of tools/loc.py: python3 -m unittest discover -s tools"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402


class CodeLines(unittest.TestCase):

    def test_blank_and_line_comments(self):
        self.assertEqual(loc.code_lines("\n  \n// a\nval x = 1 // b\n"), 1)

    def test_nested_block_comments(self):
        src = "/* a /* b */ still\n comment */ val x = 1\n/** doc\n */\ny\n"
        self.assertEqual(loc.code_lines(src), 2)

    def test_comment_markers_inside_strings_are_code(self):
        src = 'val u = "file://x"\nval g = "a/*b"\nval h = 1\n'
        self.assertEqual(loc.code_lines(src), 3)

    def test_escaped_quote_keeps_the_string_open(self):
        self.assertEqual(loc.code_lines('val q = "a\\"//b"\n/* c */\n'), 1)

    def test_triple_quoted_string_spans_lines(self):
        src = 'val s = """one\n\n// two\n/* three"""\nval t = 1\n'
        self.assertEqual(loc.code_lines(src), 5)

    def test_char_literals(self):
        src = "val a = '\"'\nval b = '\\''\n// '\"\n"
        self.assertEqual(loc.code_lines(src), 2)

    def test_no_trailing_newline(self):
        self.assertEqual(loc.code_lines("val x = 1"), 1)


class AgainstRev(unittest.TestCase):

    def test_delta_against_a_git_revision(self):
        with tempfile.TemporaryDirectory() as d:
            def git(*args):
                subprocess.run(["git", *args], cwd=d, check=True,
                               capture_output=True)
            src = os.path.join(d, "src", "main", "scala")
            os.makedirs(src)
            path = os.path.join(src, "A.scala")
            with open(path, "w") as f:
                f.write("object A {\n  // note\n  val x = 1\n}\n")
            git("init", "-q")
            git("add", ".")
            git("-c", "user.name=t", "-c", "user.email=t@t", "commit",
                "-qm", "a")
            with open(path, "w") as f:
                f.write("object A {\n}\n")
            out = subprocess.run(
                [sys.executable, os.path.abspath(loc.__file__)], cwd=d,
                check=True, capture_output=True, text=True).stdout
            self.assertIn("-1      3 ->      2 src/main/scala/A.scala", out)
            self.assertTrue(out.rstrip().endswith("total (src/main/scala vs HEAD)"))


if __name__ == "__main__":
    unittest.main()
