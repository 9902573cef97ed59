"""Every tracked Python source compiles with SyntaxWarning and
DeprecationWarning raised as errors: an invalid escape such as ``\\d``
in a non-raw string warns today and is an error in a later Python."""

import os
import subprocess
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracked_sources_compile_without_warnings():
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                         capture_output=True, text=True, check=True)
    bad = []
    for rel in out.stdout.split():
        path = os.path.join(REPO, rel)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(src, rel, "exec")
            except (SyntaxWarning, DeprecationWarning, SyntaxError) as e:
                bad.append(f"{rel}: {e}")
    assert not bad, bad
