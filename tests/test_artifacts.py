"""Artifact directories: a run's cleanup removes its own namespace's
directories and leaves every other one in place."""

from __future__ import annotations

import hashlib
import os
import shutil

from change_data_capture_poc_spark.functions.artifacts import (
    artifact_dir,
    remove_namespace_dirs,
)


def test_namespace_cleanup_keeps_other_namespaces(monkeypatch):
    own = f"cleanup-test-{os.getpid()}"
    dirs = {}
    # "<own>0" shares own's prefix; None is the shared, unnamespaced dir.
    for ns in (own, f"{own}0", None):
        if ns is None:
            monkeypatch.delenv("SPARK_GRAFT_TMP_NS", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_TMP_NS", ns)
        dirs[ns] = artifact_dir("cleanup_test", "/sf")
        os.makedirs(dirs[ns], exist_ok=True)
    try:
        key = hashlib.md5(b"/sf").hexdigest()[:10]
        assert dirs[None] == f"/tmp/spark_graft_cleanup_test_{key}"
        assert dirs[own].endswith(f"@{own}")

        remove_namespace_dirs(own)

        assert not os.path.exists(dirs[own])
        assert os.path.isdir(dirs[f"{own}0"])
        assert os.path.isdir(dirs[None])
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
