"""Artifact-serving scale probe (round-12, verdict item 5).

The main scale probe excludes queries that SERVE off persisted per-SF
artifacts (ANN index, tokenizer vocabularies, quarantine log): its
load_table self-union patch cannot scale an already-persisted artifact,
so a probe row would report a misleading ~1x. But "plan-audit-pinned"
is weaker than measured for queries whose whole point is sub-corpus
serving cost — this tool measures them for real:

- phase "1x": artifacts are BUILT from the real corpus under a
  probe-local per-run namespace (SPARK_GRAFT_TMP_NS=serveprobe1x<pid>
  — the pid nonce forces a fresh build every run, so the 'warm'
  column always measures build+serve, never a stale-artifact
  early-return), then the serve query is timed best-of-3 against them
  (the build happens once, in the untimed warm run — every
  ``ensure_*`` early-returns via its marker afterwards);
- phase "Nx": a second namespace (serveprobeNx<pid>) plus the scaled
  loader builds the artifacts from the N-times self-unioned corpus,
  and the serve query (whose delta/request inputs are also scaled by
  the same loader) is timed against THOSE. This run's artifact dirs
  are removed afterwards, namespace by namespace, so a concurrent
  run's artifacts stay.

The ratio is therefore serve-vs-serve on honest 1x/Nx artifacts. The
warm columns record the one-time build+serve pass for context (the
"offline build is a linear pass" claim). Writes/refreshes the
"Artifact-serving probe" section of SCALING.md.

Usage: PYTHONPATH=/root/repo python tools/serve_probe.py [sf_dir] [N] [names...]
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import sys
import time

import change_data_capture_poc_spark.queries  # noqa: F401 - registers all
from change_data_capture_poc_spark.functions.artifacts import (
    remove_namespace_dirs,
)
from change_data_capture_poc_spark.registry import all_queries
from change_data_capture_poc_spark.session import get_spark
from change_data_capture_poc_spark.sources import tables as tables_mod
from tools.probe_common import (
    bytes_ratio,
    consumers,
    make_scaled_load,
    mb,
    run_query,
    set_loader,
    super_linear,
)

SERVE_PROBES = (
    "ann_serve_from_index",     # IVF-PQ online serve off persisted index
    "ann_index_delta_serve",    # base codes + watermark-pruned delta
    "bpe_encode_from_vocab",    # corpus encode off persisted BPE vocab
    "unigram_viterbi_encode",   # Viterbi encode off persisted unigram LM
    "cdc_quarantine_report",    # tolerant parse of the persisted log
    "cdc_quarantine_replay",    # prefix-strip recovery of garbled lines
)


def run(
    sf_dir: str = "/root/testdata/sf0.1",
    n: int = 8,
    names: tuple = (),
) -> None:
    """Measure the serve probes and merge the section into SCALING.md.

    Callable from scale_probe's full refresh (round-13, verdict item
    4): the serve probe is part of the committed gate, not an ad-hoc
    extra, so index-serving regressions — the 100 TB read path —
    cannot land silently between SCALING.md refreshes."""
    names = tuple(names) or SERVE_PROBES
    qs = all_queries()
    unknown = [p for p in names if p not in qs]
    if unknown:
        sys.exit(f"unknown query name(s) {unknown}")

    spark = get_spark(app_name="serve_probe")
    real_load = tables_mod.load_table
    scaled_load = make_scaled_load(real_load, n, rotate_text=True)
    mods = consumers()

    def phase(ns: str, loader, name: str) -> tuple[float, float, int]:
        """(warm_sec, best_serve_sec, peak_serve_bytes) under the given
        artifact namespace + loader."""
        os.environ["SPARK_GRAFT_TMP_NS"] = ns
        set_loader(mods, loader)
        # run_query's returned elapsed covers the query evaluation only
        # (artifact build happens inside it on first touch); wrapping
        # the call in an outer clock would also bill release_pins and
        # the listener-bus flush in shuffle_totals — bookkeeping the
        # serve reps below deliberately exclude — inflating the warm
        # column relative to the serve columns it is compared against
        # (round-12 ADVICE).
        warm, _ = run_query(spark, qs, name, sf_dir)
        reps = [run_query(spark, qs, name, sf_dir) for _ in range(3)]
        return (
            warm,
            min(t for t, _ in reps),
            max(b for _, b in reps),
        )

    prior_ns = os.environ.get("SPARK_GRAFT_TMP_NS")
    # Per-run namespace nonce: artifact dirs persist in /tmp with
    # still-valid source fingerprints, so a FIXED namespace would make
    # every run after the first record serve-only cost in the 'warm'
    # (build+serve) column — falsifying the offline-build readout the
    # column exists for (round-12 review finding). The pid nonce
    # guarantees fresh builds; the finally block removes this run's
    # two namespaces afterwards so reruns neither reuse nor leak.
    nonce = os.getpid()
    namespaces = (f"serveprobe1x{nonce}", f"serveprobe{n}x{nonce}")
    rows = []
    try:
        for name in names:
            w1, base, base_b = phase(namespaces[0], real_load, name)
            wn, scaled, scaled_b = phase(namespaces[1], scaled_load, name)
            ratio = scaled / base if base > 0 else float("nan")
            rows.append(
                (name, round(base, 2), round(scaled, 2), round(ratio, 1),
                 mb(base_b), mb(scaled_b), bytes_ratio(base_b, scaled_b),
                 round(w1, 2), round(wn, 2))
            )
            print(rows[-1])
            if super_linear(base_b, scaled_b, n):
                print(f"WARN super-linear serve shuffle bytes: {name} "
                      f"{mb(base_b)} MB -> {mb(scaled_b)} MB at {n}x")
    finally:
        if prior_ns is None:
            os.environ.pop("SPARK_GRAFT_TMP_NS", None)
        else:
            os.environ["SPARK_GRAFT_TMP_NS"] = prior_ns
        set_loader(mods, real_load)
        for ns in namespaces:
            remove_namespace_dirs(ns)

    header = f"\n## Artifact-serving probe at {n}x (probe-local artifacts)\n"
    body = (
        header
        + f"\nProbed {_dt.date.today().isoformat()}."
        + " Serve queries the main probe excludes (their persisted "
        "artifacts can't be scaled by the loader patch): here each "
        f"phase BUILDS its artifacts from the honest 1x/{n}x corpus "
        "under a probe-local namespace (tools/serve_probe.py), then "
        "times the serve path best-of-3 against them. 'warm' = the "
        "one-time build+serve pass, for the offline-build-is-linear "
        "readout; serve columns are the steady-state request cost.\n\n"
        f"| query | 1x serve s | {n}x serve s | ratio "
        f"| 1x shuf MB | {n}x shuf MB | bytes ratio "
        f"| 1x warm s | {n}x warm s |\n"
        "|---|---|---|---|---|---|---|---|---|\n"
    )
    merged: dict[str, tuple] = {}
    try:
        with open("SCALING.md") as f:
            doc = f.read()
    except OSError:
        doc = "# SCALING — empirical scale probe (tools/scale_probe.py)\n"
    sec_re = re.compile(
        rf"\n## Artifact-serving probe at {n}x \(probe-local artifacts\)\n"
        r"(?:.*?\n)*?"
        r"\|[-| ]*\n((?:\|[^\n]*\n)*)"
    )
    m = sec_re.search(doc)
    if m:
        for line in m.group(1).strip().splitlines():
            parts = [p.strip() for p in line.strip("|").split("|")]
            if len(parts) == 9:
                merged[parts[0]] = tuple(parts)
        doc = sec_re.sub("", doc, count=1)
    for r in rows:
        merged[r[0]] = tuple(str(x) for x in r)
    with open("SCALING.md", "w") as f:
        f.write(doc.rstrip("\n") + "\n" + body)
        for name in sorted(merged):
            f.write("| " + " | ".join(merged[name]) + " |\n")
    print("merged serve probe into SCALING.md")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    run(sf_dir, n, tuple(sys.argv[3:]))


if __name__ == "__main__":
    main()
