"""Shard-directory integrity manifests — the handoff contract for
container sinks.

Every container sink in this repo (WARC, TFRecord, WebDataset tar,
ZIP) writes one shard per partition and returns a count. At pipeline
scale that is not enough to HAND OFF a directory: the consumer needs
to know the shard set is complete and unmodified — a lost task
retry, a partial copy, or a post-write mutation must fail loudly at
the boundary, not surface as silently-short training data.

``write_shard_manifest`` records every shard's name, byte length, and
md5 in a ``_MANIFEST.json`` sidecar (deterministic bytes: sorted keys,
no timestamps — same shards, same manifest). ``verify_shards``
re-scans and refuses by name listing every missing / extra / changed
shard. The digest pass is DISTRIBUTED (binaryFile scan + JVM md5, one
row per shard collected — shard count is partition count, driver-safe
by construction); the sidecar goes through pyarrow.fs so the manifest
lands next to the shards on object storage too.

The leading underscore keeps the sidecar invisible to Spark's file
listing (the same convention as ``_SUCCESS``), so data readers over
the directory never see it.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bravo_spark.sources.shards import _resolve_fs

MANIFEST_NAME = "_MANIFEST.json"


class ShardManifestError(ValueError):
    """Shard set disagrees with its manifest (missing/extra/changed
    shards), or the manifest itself is absent/torn."""


def _scan(spark: SparkSession, path: str, glob: str) -> dict[str, dict]:
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    rows = files.select(
        F.element_at(F.split("path", "/"), -1).alias("shard"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("digest"),
    ).collect()
    return {
        r.shard: {"bytes": int(r.n_bytes), "md5": r.digest} for r in rows
    }


def write_shard_manifest(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*",
) -> dict:
    """Digest every shard under ``path`` (distributed scan) and write
    the ``_MANIFEST.json`` sidecar. Returns the manifest dict. Refuses
    on an empty directory — a manifest of nothing is a handoff of
    nothing, almost certainly a glob mistake."""
    shards = _scan(spark, path, glob)
    if not shards:
        raise ShardManifestError(
            f"no shards under {path!r} matching {glob!r} — refusing to "
            "write an empty manifest")
    manifest = {"format": "bravo-shard-manifest/1", "glob": glob,
                "n_shards": len(shards), "shards": shards}
    fs, base = _resolve_fs(path)
    blob = json.dumps(manifest, sort_keys=True,
                      separators=(",", ":")).encode("utf-8")
    with fs.open_output_stream(
            base.rstrip("/") + "/" + MANIFEST_NAME, compression=None) as f:
        f.write(blob)
    return manifest


def verify_shards(
    spark: SparkSession,
    path: str,
) -> dict:
    """Re-scan ``path`` and compare against its ``_MANIFEST.json``.
    Returns ``{"n_shards": N, "n_bytes": total}`` when the set matches
    exactly; refuses by name listing every missing, extra, and changed
    shard otherwise (changed = byte length or md5 differs)."""
    fs, base = _resolve_fs(path)
    mpath = base.rstrip("/") + "/" + MANIFEST_NAME
    try:
        with fs.open_input_stream(mpath) as f:
            manifest = json.loads(f.read().decode("utf-8"))
    except (OSError, ValueError) as exc:
        raise ShardManifestError(
            f"no readable {MANIFEST_NAME} under {path!r}: {exc}"
        ) from exc
    if manifest.get("format") != "bravo-shard-manifest/1":
        raise ShardManifestError(
            f"{mpath}: unknown manifest format "
            f"{manifest.get('format')!r}")
    want = manifest.get("shards")
    if not isinstance(want, dict) or not all(
            isinstance(v, dict) for v in want.values()):
        # right format string, wrong body (hand-edited/truncated JSON):
        # refuse by name, never leak a KeyError/TypeError past the
        # module's contract
        raise ShardManifestError(
            f"{mpath}: manifest 'shards' map is missing or malformed")
    got = _scan(spark, path, manifest.get("glob", "*"))
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    changed = sorted(
        s for s in set(want) & set(got) if want[s] != got[s]
    )
    if missing or extra or changed:
        raise ShardManifestError(
            f"{path!r} disagrees with its manifest — "
            f"missing: {missing}, extra: {extra}, changed: {changed}")
    return {
        "n_shards": len(got),
        "n_bytes": sum(v["bytes"] for v in got.values()),
    }


__all__ = ["write_shard_manifest", "verify_shards", "MANIFEST_NAME",
           "ShardManifestError"]
