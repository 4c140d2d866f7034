"""tools/code_lines.py: the code-line count leaves out blank, comment-only
and docstring lines, and counts every line a code token spans."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from code_lines import code_lines  # noqa: E402

SNIPPET = '''"""Module docstring,
on two lines."""

import os  # a trailing comment keeps the line


# a comment-only line
def f(x):
    """One-line docstring."""
    s = """a multi-line
    string literal"""
    return (x +
            1)


class C:
    """Class docstring."""

    y = 1
'''


def test_code_lines_counts_snippet(tmp_path):
    # import os; def f; s = (2 lines); return (2 lines); class C; y = 1
    assert code_lines(SNIPPET) == 8
    path = tmp_path / "snippet.py"
    path.write_text(SNIPPET)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "code_lines.py"), str(path)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert json.loads(out.stdout) == {"snippet.py": 8, "total": 8}
