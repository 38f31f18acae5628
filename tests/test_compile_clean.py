"""Every tracked Python file compiles without a warning.

An invalid escape such as ``'\\s+'`` in a plain string literal is a
``DeprecationWarning`` at import on Python 3.11 and a
``SyntaxWarning`` from 3.12; a SQL or regex string then holds the
text only by accident. No Spark session is needed.
"""

import os
import subprocess
import warnings

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracked_python_files_compile_without_warnings():
    files = subprocess.run(
        ["git", "ls-files", "*.py"],
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert "__spark_entry__.py" in files
    bad = {}
    for rel in files:
        with open(os.path.join(_REPO, rel), encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, rel, "exec")
            except (SyntaxError, Warning) as e:
                bad[rel] = f"{type(e).__name__}: {e}"
    assert not bad, bad
