"""Seeded Gaussian-mixture points in the fixture's `embeddings` schema
(vec_id int64, embedding list<float32>, label int32), for the
`kmeans_lloyd` workload."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K, DIM = 10, 64
FILES = 8  # several files, so the scan splits across the session's cores
# per-coordinate noise against unit-variance centers: the components
# overlap, so Lloyd's rounds keep moving the centers for all 10 rounds
# rather than stopping early on a seed whose clusters separate cleanly
NOISE = 2.0


def mixture(seed, n, k=K, dim=DIM):
    """(vec_id, embedding, label) arrays; ids are a seeded permutation,
    so the lowest ids (the firstK init) are a seeded random sample."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, size=(k, dim))
    weights = rng.dirichlet(np.full(k, 5.0))
    label = rng.choice(k, size=n, p=weights).astype(np.int32)
    points = (centers[label] + rng.normal(0.0, NOISE, size=(n, dim))).astype(np.float32)
    vec_id = rng.permutation(n).astype(np.int64)
    return vec_id, points, label


def write(seed, n, out_dir):
    """Write the mixture as FILES parquet files under out_dir/embeddings.parquet/."""
    vec_id, points, label = mixture(seed, n)
    d = out_dir / "embeddings.parquet"
    d.mkdir(parents=True)
    for f, idx in enumerate(np.array_split(np.arange(n), FILES)):
        emb = pa.FixedSizeListArray.from_arrays(pa.array(points[idx].ravel()), DIM).cast(pa.list_(pa.float32()))
        t = pa.table({"vec_id": vec_id[idx], "embedding": emb, "label": label[idx]})
        pq.write_table(t, d / f"part-{f:02d}.parquet")
    return d
