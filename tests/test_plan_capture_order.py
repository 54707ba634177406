"""tools/check_plan_capture_order.py on a throwaway git repository:
a before capture committed after its after capture is reported once,
as FLAG, and fails the run."""

from __future__ import annotations

import os
import subprocess
import sys

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "check_plan_capture_order.py",
)


def _git(repo, *args, when=None):
    env = dict(os.environ)
    if when is not None:
        env["GIT_AUTHOR_DATE"] = env["GIT_COMMITTER_DATE"] = f"{when} +0000"
    subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c",
         "user.email=t@example.com", *args],
        check=True, capture_output=True, env=env,
    )


def test_flagged_pair_is_not_also_warned(tmp_path):
    # The after capture lands first, then a "before" that differs only
    # in expression ids (7 vs 1), or not at all (1 vs 1): either pair is
    # out of order and 100% similar. The byte-identical one is the case
    # `git log --follow` misdated by the after file's add.
    for before_id in (7, 1):
        repo = tmp_path / f"before_id_{before_id}"
        repo.mkdir()
        _git(repo, "init", "-q")
        for name, when, expr_id in (("q_after.txt", 1_700_000_000, 1),
                                    ("q_before.txt", 1_700_000_600,
                                     before_id)):
            (repo / name).write_text(
                f"Project [id#{expr_id}]\n+- Scan parquet [id#{expr_id}]\n")
            _git(repo, "add", name)
            _git(repo, "commit", "-q", "-m", name, when=when)

        run = subprocess.run(
            [sys.executable, _TOOL, str(repo)],
            capture_output=True, text=True,
        )
        lines = run.stdout.splitlines()
        assert run.returncode == 1, (before_id, run.stdout)
        assert [ln.split()[0] for ln in lines] == ["FLAG", "FAIL:"]
        assert lines[0].startswith("FLAG  q: before added 600s AFTER")
