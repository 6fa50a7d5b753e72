"""Print the statistics that perfbench/data.py builds its inputs on.

    python3 perfbench/profile_tables.py --sf-dir <testdata>/sf0.1
    python3 perfbench/profile_tables.py --generate 2000 --seed 1

The first form measures a directory of the engine's sf testdata; the second
writes the benchmark's own tables for a seed (into a temporary directory
under .perfbench_work/) and measures those, so the two can be compared line
by line.  Reads the parquet files with pyarrow; starts no Spark.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def _types(path: str) -> str:
    schema = pq.ParquetFile(path).schema
    return ", ".join(
        f"{c.name}:{c.logical_type if str(c.logical_type) != 'None' else c.physical_type}"
        for c in (schema.column(i) for i in range(len(schema))))


def profile(sf: str) -> None:
    ev = pd.read_parquet(f"{sf}/events.parquet")
    users = ev["user_id"].nunique()
    span = (ev["ts"].max() - ev["ts"].min()) / pd.Timedelta(days=1)
    print(f"events      rows {len(ev)}  types {_types(f'{sf}/events.parquet')}")
    print(f"  users {users} (ids {ev['user_id'].min()}..{ev['user_id'].max()}), "
          f"{len(ev) / users:.2f} events per user, "
          f"max/min events per user {ev['user_id'].value_counts().agg(['max', 'min']).tolist()}")
    print(f"  ts span {span:.2f} days, sorted {ev['ts'].is_monotonic_increasing}, "
          f"event_id in ts order {ev['event_id'].is_monotonic_increasing}")
    shares = ev["event_type"].value_counts(normalize=True).round(3).to_dict()
    print(f"  event_type shares {shares}")
    v = ev["value"]
    print(f"  value mean {v.mean():.2f} median {v.median():.2f} std {v.std():.2f} "
          f"min {v.min():.2f} max {v.max():.2f} (exponential mean m: median m·ln2, std m)")
    k = ev["props"].str.extract(r'"k": (\d+)')[0].astype(int)
    print(f"  props.k {k.min()}..{k.max()}, {k.nunique()} distinct")
    cu = pd.read_parquet(f"{sf}/customer.parquet")
    print(f"customer    rows {len(cu)} ({len(cu) / len(ev):.3f} per event)  "
          f"types {_types(f'{sf}/customer.parquet')}")
    print(f"  nationkey {cu['c_nationkey'].min()}..{cu['c_nationkey'].max()}, "
          f"acctbal {cu['c_acctbal'].min():.2f}..{cu['c_acctbal'].max():.2f} "
          f"mean {cu['c_acctbal'].mean():.2f}")
    print(f"  segment shares {cu['c_mktsegment'].value_counts(normalize=True).round(3).to_dict()}")
    em = pd.read_parquet(f"{sf}/embeddings.parquet")
    vecs = np.stack(em["embedding"].to_numpy())
    labels = em["label"].to_numpy()
    per_label = np.bincount(labels)
    centroids = np.stack([vecs[labels == lab].mean(0) for lab in np.unique(labels)])
    print(f"embeddings  rows {len(em)}  dim {vecs.shape[1]}  "
          f"types {_types(f'{sf}/embeddings.parquet')}")
    print(f"  norm mean {np.linalg.norm(vecs, axis=1).mean():.4f}, "
          f"element std {vecs.std():.4f} (1/sqrt(dim) = {vecs.shape[1] ** -0.5:.4f})")
    print(f"  labels {len(per_label)}, rows per label {per_label.min()}..{per_label.max()}; "
          f"label-mean element std {centroids.std():.4f} vs "
          f"{vecs.std() / np.sqrt(per_label.mean()):.4f} for no clusters")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--sf-dir")
    src.add_argument("--generate", type=int, metavar="N_EVENTS")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.sf_dir:
        profile(args.sf_dir)
        return 0
    sys.path.insert(0, HERE)
    import data

    root = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    sf = tempfile.mkdtemp(prefix="profile-", dir=root)
    try:
        data.write_tables(sf, args.seed, n_events=args.generate, n_vectors=2000)
        profile(sf)
    finally:
        shutil.rmtree(sf, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
