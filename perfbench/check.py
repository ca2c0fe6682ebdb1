"""Output checks.

Every timed action ends in ONE collect that returns the doc count, the
span count, an order-sensitive digest and the span sequences of a small
deterministic sample of docs. The sample is compared with the pandas
oracle (``georip_spark.oracle.pandas_ref``) over the sample
docs only, each doc's regions pre-filtered by its (region, start_year,
end_year) key so the nested-loop oracle stays linear in the sample.

The digest is ``sum(xxhash64(doc_id, spans) >> 24)``: any change to a
span's kind, text, media_ref or offset, or to the order of spans,
changes it. It is compared across actions of a run and with the digest
of a second public entry point over the same stored inputs.

The kNN layer's output is checked on a sample of left points against a
brute-force top-k by (dist, key) in numpy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SAMPLE = 6
KNN_SAMPLE = 20


def sample_keys(df: DataFrame, key: str, n: int = SAMPLE) -> list[str]:
    """The n keys with the smallest xxhash64: deterministic per input."""
    rows = df.select(key).orderBy(F.xxhash64(key), key).limit(n).collect()
    return [r[0] for r in rows]


def docs_summary(docs_out: DataFrame, sample: list[str]) -> dict:
    """count / spans / digest / sample spans of a docs table, one job."""
    pick = F.when(F.col("doc_id").isin(sample), F.struct("doc_id", "spans"))
    r = docs_out.agg(
        F.count("*").alias("docs"),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(F.shiftright(F.xxhash64("doc_id", "spans"), 24)).alias("digest"),
        F.collect_list(pick).alias("sample"),
    ).collect()[0]
    return {
        "docs": int(r["docs"]),
        "spans": int(r["spans"] or 0),
        "digest": int(r["digest"] or 0),
        "sample": {
            s["doc_id"]: [
                (x["kind"], x["text"], x["media_ref"], x["offset"]) for x in s["spans"]
            ]
            for s in r["sample"]
        },
    }


def docs_oracle(rasters: DataFrame, regions: DataFrame, sample: list[str]) -> dict:
    """Expected span sequences of the sample docs, from the pandas oracle."""
    from georip_spark.functions import parse_doc_id
    from georip_spark.oracle import pandas_ref

    rast = rasters.filter(F.col("doc_id").isin(sample))
    keys = rast.select(*parse_doc_id(F.col("doc_id"))).distinct()
    regs = regions.join(keys, ["region", "start_year", "end_year"], "left_semi")
    rast_pd, reg_pd = rast.toPandas(), regs.toPandas()
    tiles = pandas_ref.tile_grid_pd(rast_pd)
    labels = pandas_ref.build_labels_pd(tiles, reg_pd)
    return pandas_ref.assemble_docs_pd(tiles, labels)


def knn_summary(out: DataFrame, sample: list[str]) -> dict:
    """Pair count and the sample points' neighbours of a knn_join
    output, one job."""
    pick = F.when(F.col("media_ref").isin(sample), F.struct("media_ref", "rn", "geom_id", "dist"))
    r = out.agg(F.count("*").alias("pairs"), F.collect_list(pick).alias("sample")).collect()[0]
    by: dict = {}
    for x in sorted(r["sample"], key=lambda x: (x["media_ref"], x["rn"])):
        by.setdefault(x["media_ref"], []).append((x["geom_id"], x["dist"]))
    return {"pairs": int(r["pairs"]), "sample": by}


def knn_oracle(left, right, k: int) -> dict:
    """Brute-force top-k by (dist, geom_id) of each left point (pandas
    frames), with knn_join's distance expression."""
    rx, ry = right["fx"].to_numpy(), right["fy"].to_numpy()
    gid = right["geom_id"].tolist()
    out = {}
    for ref, x, y in zip(left["media_ref"], left["cx"], left["cy"]):
        d2 = (x - rx) * (x - rx) + (y - ry) * (y - ry)
        out[ref] = [(g, float(np.sqrt(v))) for v, g in sorted(zip(d2, gid))[:k]]
    return out


def passes(summary: dict, want: dict) -> bool:
    return summary["sample"] == want["sample"] and summary["digest"] == want["digest"]


def altered(sample: dict) -> dict:
    """A copy of a docs sample with the first two spans of one doc
    swapped, offsets left in place: a negative control the check must
    reject."""
    out = {k: list(v) for k, v in sample.items()}
    for seq in out.values():
        if len(seq) >= 2:
            a, b = seq[0], seq[1]
            seq[0], seq[1] = b[:3] + a[3:], a[:3] + b[3:]
            break
    return out
