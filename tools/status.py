"""Job-status surface over a pipeline work_dir (VERDICT r5 #8).

The reference's second entry point is an HTTP job API whose job registry
reports per-job state (``api_server.py:130-180``: status / progress /
result paths).  The graft's pipeline is batch + checkpoint-resumable, so
job state IS the work_dir: which stage tables are committed (``_SUCCESS``),
their footer row counts, and the recorded stage metrics/lineage.  This
tool reads all of that WITHOUT a SparkSession (pyarrow footers + os.listdir
only — a status probe must not cost a JVM), covering both batch pipeline
work dirs and streaming incremental work dirs.

Usage:  python tools/status.py WORK_DIR [--json]

States reported per work dir:
- ``complete``     every core stage table committed (report included);
- ``in-progress``  some committed, some not — a resumable checkpoint
                   (``pipeline.run(..., resume=True)`` picks up here);
- ``streaming``    an incremental work dir (signature store + pair log);
- ``empty``        nothing committed yet.
"""

from __future__ import annotations

import json
import os
import sys

# canonical batch stage order (plans/pipeline.py stage() calls); matchers
# may be disabled, so absence of an edges_* table in an otherwise-complete
# dir is not "pending" — completeness is keyed on the spine stages.
STAGE_ORDER = [
    "documents", "signatures",
    "edges_exact", "edges_simhash", "edges_minhash", "edges_substring",
    "assignments", "representatives", "cluster_sizes", "report",
]
SPINE = ["documents", "assignments", "representatives", "cluster_sizes",
         "report"]
SIDE_TABLES = {"metrics_stages", "metrics_partitions"}


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(root, f)).metadata.num_rows
    return total


def _table_status(work_dir: str, name: str) -> dict | None:
    path = os.path.join(work_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        return None
    committed = os.path.exists(os.path.join(path, "_SUCCESS"))
    out = {"committed": committed}
    if committed:
        out["rows"] = _footer_rows(path)
    return out


def _stage_metrics(work_dir: str) -> dict[str, dict]:
    """Latest recorded metrics row per stage (append-mode table; a resumed
    run appends a fresh row for every stage it recomputes)."""
    path = os.path.join(work_dir, "metrics_stages.parquet")
    if not os.path.isdir(path):
        return {}
    import pyarrow.parquet as pq

    tbl = pq.read_table(path).to_pylist()
    out: dict[str, dict] = {}
    for row in sorted(tbl, key=lambda r: r["ts"]):
        out[row["stage"]] = {
            "wall_sec": round(row["wall_sec"], 3),
            "n_rows": row["n_rows"],
            "peak_rss_mb": row["peak_rss_mb"],
            "ts": row["ts"],
        }
    return out


def _skew(work_dir: str) -> dict[str, float]:
    """max/mean partition-row ratio per stage from the lineage table —
    the 'partition 17 has 40% of the rows' probe, driver-side free."""
    path = os.path.join(work_dir, "metrics_partitions.parquet")
    if not os.path.isdir(path):
        return {}
    import pyarrow.parquet as pq

    rows = pq.read_table(path).to_pylist()
    per_stage: dict[str, list[int]] = {}
    for r in rows:
        per_stage.setdefault(r["stage"], []).append(r["n_rows"])
    return {s: round(max(v) / (sum(v) / len(v)), 2)
            for s, v in per_stage.items() if v and sum(v) > 0}


def _streaming_status(work_dir: str) -> dict | None:
    store = os.path.join(work_dir, "sig_store.parquet")
    pairs = os.path.join(work_dir, "incremental_pairs.parquet")
    if not (os.path.isdir(store) or os.path.isdir(pairs)):
        return None
    out: dict = {}
    manifest_path = os.path.join(work_dir, "_store_manifest.json")
    man = None
    if os.path.isfile(manifest_path):
        with open(manifest_path) as f:
            man = json.load(f)
    for label, path in (("sig_store", store), ("incremental_pairs", pairs)):
        if not os.path.isdir(path):
            continue
        parts = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(path)
            if d.startswith("_batch_id="))
        if label == "sig_store" and man is not None:
            # r7 (ADVICE r6): after a compaction the base lives in
            # sig_store_base/gen_N.parquet — resolve the store through the
            # manifest (live batches + base) so 'rows' counts the whole
            # store and 'compacted_base' reflects the committed snapshot
            live = [os.path.join(work_dir, rel)
                    for rel in man.get("batches", {}).values()]
            if man.get("base"):
                live.append(os.path.join(work_dir, man["base"]))
            out[label] = {
                "batch_partitions": len(man.get("batches", {})),
                "latest_batch_id": (max(int(b) for b in man["batches"])
                                    if man.get("batches") else None),
                "compacted_base": bool(man.get("base")),
                "rows": sum(_footer_rows(p) for p in live),
            }
            continue
        out[label] = {
            "batch_partitions": len(parts),
            "latest_batch_id": max(parts) if parts else None,
            "compacted_base": -1 in parts,  # legacy (pre-manifest) stores
            "rows": _footer_rows(path),
        }
    stamp = os.path.join(work_dir, "_sig_scheme.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            out["sig_scheme"] = json.load(f)
    manifest = os.path.join(work_dir, "_store_manifest.json")
    if os.path.isfile(manifest):
        with open(manifest) as f:
            man = json.load(f)
        out["store_manifest"] = {
            "generation": man.get("generation", 0),
            "live_batches": sorted(int(b) for b in man.get("batches", {})),
            "base": man.get("base"),
            "pending_tombstones": len(man.get("tombstones", [])),
        }
    return out


def status(work_dir: str) -> dict:
    tables: dict[str, dict] = {}
    known = set(STAGE_ORDER) | SIDE_TABLES
    for name in STAGE_ORDER:
        st = _table_status(work_dir, name)
        if st is not None:
            tables[name] = st
    if os.path.isdir(work_dir):  # anything else *.parquet (side tables)
        for d in sorted(os.listdir(work_dir)):
            if d.endswith(".parquet") and d[:-8] not in known \
                    and d[:-8] not in ("sig_store", "incremental_pairs"):
                st = _table_status(work_dir, d[:-8])
                if st is not None:
                    tables.setdefault(d[:-8], st)

    streaming = _streaming_status(work_dir)
    committed = [n for n in STAGE_ORDER
                 if tables.get(n, {}).get("committed")]
    pending = [n for n in STAGE_ORDER
               if n in tables and not tables[n]["committed"]]
    if streaming and not committed:
        state = "streaming"
    elif all(s in committed for s in SPINE):
        state = "complete"
    elif committed or pending:
        state = "in-progress"
    else:
        state = "empty"
    out = {
        "work_dir": os.path.abspath(work_dir),
        "state": state,
        "stages_committed": committed,
        "stages_uncommitted": pending,
        "next_stage": next((n for n in STAGE_ORDER
                            if n not in committed and
                            (n in tables or n in SPINE)), None)
        if state == "in-progress" else None,
        "tables": tables,
        "stage_metrics": _stage_metrics(work_dir),
        "partition_skew_max_over_mean": _skew(work_dir),
    }
    if streaming:
        out["streaming"] = streaming
    return out


def main(argv: list[str]) -> int:
    args = [a for a in argv if not a.startswith("--")]
    if not args:
        print(__doc__, file=sys.stderr)
        return 2
    st = status(args[0])
    if "--json" in argv:
        print(json.dumps(st))
        return 0
    print(f"work_dir: {st['work_dir']}")
    print(f"state:    {st['state']}")
    met = st["stage_metrics"]
    for name in STAGE_ORDER:
        if name not in st["tables"]:
            continue
        t = st["tables"][name]
        mark = "done" if t["committed"] else "UNCOMMITTED"
        extra = ""
        if name in met:
            extra = (f"  {met[name]['wall_sec']:8.2f}s"
                     f"  rss {met[name]['peak_rss_mb']:.0f}MB")
        rows = t.get("rows", "-")
        print(f"  {name:<20} {mark:<12} {rows!s:>10} rows{extra}")
    if st.get("next_stage"):
        print(f"resume would continue at: {st['next_stage']}")
    if "streaming" in st:
        for k, v in st["streaming"].items():
            print(f"  [stream] {k}: {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
