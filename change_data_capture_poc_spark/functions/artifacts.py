"""Shared /tmp artifact directory resolution.

Every persisted per-SF artifact (ANN index, chunk-store fingerprint
index, tokenizer vocabularies, aggregate snapshot, quarantine log,
type-widening generations) resolves its directory here. The staleness
contract is two-layered:

- the artifact's marker records the SOURCE parquet's size+mtime
  fingerprint (regenerated testdata triggers a rebuild), and
- the directory key honors ``SPARK_GRAFT_TMP_NS``, so a harness that
  monkeypatches the table loader (tools/scale_probe.py self-unions
  every fact table 8x with rotated text) builds into its OWN
  namespace. Without this, a probed BUILDER query force-persists a
  model trained on the synthetic 8x corpus under the real corpus's
  still-valid file fingerprint — and every later serve-path run reads
  the poisoned artifact (this bit round 10's unigram trainer live).

A namespaced directory also carries the namespace in its name
(``..._<key>@<namespace>``), so ``remove_namespace_dirs`` can delete
one run's artifacts and nothing else: not another concurrent run's,
and not the shared stream-source directories.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil

_ROOT = "/tmp/spark_graft_"


def artifact_dir(prefix: str, sf_dir: str) -> str:
    ns = os.environ.get("SPARK_GRAFT_TMP_NS", "")
    key = hashlib.md5(f"{sf_dir}{ns}".encode()).hexdigest()[:10]
    d = f"{_ROOT}{prefix}_{key}"
    return f"{d}@{_ns_tag(ns)}" if ns else d


def remove_namespace_dirs(ns: str) -> None:
    """Delete every artifact directory created under namespace ``ns``."""
    for d in glob.glob(f"{_ROOT}*@{_ns_tag(ns)}"):
        shutil.rmtree(d, ignore_errors=True)


def _ns_tag(ns: str) -> str:
    # Path-safe, and free of '@', so the tag after the last '@' names
    # exactly one namespace.
    return re.sub(r"[^A-Za-z0-9._-]", "_", ns)
