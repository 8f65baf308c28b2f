"""WebDataset tar-shard source/sink — the multimodal training format.

WebDataset (public convention: github.com/webdataset/webdataset; the
format is plain POSIX tar) stores one SAMPLE as adjacent tar members
sharing a basename key: ``000017.jpg`` + ``000017.json`` + ``000017.txt``
is one sample with three parts. It is the standard shard layout for
image/audio training corpora — the multimodal counterpart of the
TFRecord sink — chosen precisely because a shard streams sequentially
(no random access), which is also why a shard IS the parallelism grain
here (``binaryFile`` never splits a file, matching tar reality).

The container is stdlib ``tarfile``; the FORMAT discipline this module
adds on top:

- key = basename up to the FIRST dot, extension = everything after it
  (the WebDataset rule — ``x.seg.json``'s extension is ``seg.json``);
- a sample's members must be ADJACENT (the convention readers rely on
  for streaming); the writer emits them adjacent with extensions
  sorted, the reader groups consecutive runs and REFUSES by name when
  a key reappears non-adjacently (a shuffled tar silently halves
  samples otherwise);
- deterministic bytes: USTAR format, mtime 0, uid/gid 0, mode 0644 —
  same input → byte-identical shards (the WARC/TFRecord posture);
- an explicit ``parts`` list on read (the reader states what a sample
  must contain; a missing part refuses by name — silent schema drift
  is how a training run ingests garbage).

Shard IO goes through the shared shard path (``sources/shards.py``),
and shard count is controlled the Spark way (``repartition(n)``
upstream).
"""

from __future__ import annotations

import io
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bravo_spark.sources.shards import read_shards, write_shards


class WebDatasetError(ValueError):
    """Malformed WebDataset shard (torn tar, non-adjacent sample
    members, missing declared part)."""


def _split_key(name: str) -> tuple[str, str]:
    base = name.rsplit("/", 1)[-1]
    if "." not in base:
        return base, ""
    key, ext = base.split(".", 1)
    return key, ext


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    part_cols: dict[str, str],
) -> int:
    """Each partition becomes ONE ``shard_{partition:05d}.tar`` under
    ``path`` (plain path or filesystem URI). ``part_cols`` maps column
    name → tar extension: row ``r`` becomes members
    ``{r[key_col]}.{ext}`` holding that column's bytes (strings encode
    UTF-8), emitted adjacent with extensions sorted. NULL part values
    and NULL/empty keys refuse by name. Returns samples written."""
    if not part_cols:
        raise ValueError("part_cols is empty — a sample needs parts")
    exts = sorted(set(part_cols.values()))
    if len(exts) != len(part_cols):
        raise ValueError("duplicate extensions in part_cols")
    src = df.select(
        F.col(key_col).cast("string").alias("key"),
        *[F.col(c).alias(f"p{i}") for i, c in enumerate(
            sorted(part_cols, key=lambda c: part_cols[c]))],
    )
    n_parts = len(part_cols)

    def encode(rows, out):
        count = 0
        tar = tarfile.TarFile(fileobj=out, mode="w",
                              format=tarfile.USTAR_FORMAT)
        for r in rows:
            key = r["key"]
            if not key:
                raise WebDatasetError("NULL/empty sample key")
            if "." in key or "/" in key:
                # the reader's grouping rules (basename, key up to the
                # FIRST dot) would silently mutate such a key on the way
                # back — 'v1.2' reads as key 'v1', 'logs/0001' as
                # '0001' — so the writer refuses it by name
                raise WebDatasetError(
                    f"sample key {key!r} contains '.' or '/' — the "
                    "WebDataset key grammar cannot round-trip it")
            if len(key) + 1 + max(len(e) for e in exts) > 100:
                raise WebDatasetError(
                    f"sample key {key!r} makes a member name past "
                    "USTAR's 100-char limit")
            for i in range(n_parts):
                v = r[f"p{i}"]
                if v is None:
                    raise WebDatasetError(
                        f"NULL part {exts[i]!r} for key {key!r} — a "
                        "sample part cannot be null; filter upstream")
                data = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                info = tarfile.TarInfo(name=f"{key}.{exts[i]}")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tar.addfile(info, io.BytesIO(data))
            count += 1
        tar.close()
        return count

    return write_shards(src, path, "shard_{:05d}.tar", encode)


def read_webdataset(
    spark: SparkSession,
    path: str,
    parts: list[str],
    *,
    glob: str = "*.tar",
) -> DataFrame:
    """One row per SAMPLE: ``(archive string, key string,`` one binary
    column per requested extension``)``. Samples are consecutive
    same-key member runs (the WebDataset adjacency rule; a key
    reappearing later in the shard refuses by name). A sample missing
    a requested part refuses by name; parts present in the tar but not
    requested are ignored (a reader declares what it consumes).
    Shard-grain binaryFile tasks, one Arrow-batched map stage, zero
    shuffles."""
    if not parts:
        raise ValueError("parts is empty — declare what a sample holds")
    if len(set(parts)) != len(parts):
        raise WebDatasetError(f"duplicate extensions in parts: {parts}")
    cols = {ext: ext.replace(".", "_") for ext in parts}
    if len(set(cols.values())) != len(cols):
        # 'seg.json' and 'seg_json' both map to column seg_json — the
        # schema would declare it twice and the batch builder would
        # crash with an unnamed pandas length error deep in a task
        dup = sorted({c for c in cols.values()
                      if list(cols.values()).count(c) > 1})
        raise WebDatasetError(
            f"part extensions collide after dot-to-underscore column "
            f"mapping: {dup}")
    schema = "archive string, key string, " + ", ".join(
        f"`{c}` binary" for c in cols.values())

    def _parse(batches):
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {"archive": [], "key": []}
            for c in cols.values():
                out[c] = []

            def flush(archive, key, got, seen):
                missing = [e for e in parts if e not in got]
                if missing:
                    raise WebDatasetError(
                        f"{archive}: sample {key!r} is missing "
                        f"part(s) {missing} (has {sorted(got)})")
                out["archive"].append(archive)
                out["key"].append(key)
                for ext in parts:
                    out[cols[ext]].append(got[ext])
                seen.add(key)

            for apath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    tar = tarfile.TarFile(fileobj=io.BytesIO(bytes(blob)),
                                          mode="r")
                    members = tar.getmembers()
                except tarfile.TarError as exc:
                    raise WebDatasetError(
                        f"{apath}: torn/unreadable tar: {exc}") from exc
                cur_key = None
                got: dict[str, bytes] = {}
                seen: set[str] = set()
                for m in members:
                    if not m.isreg():
                        continue  # directories/links are not parts
                    key, ext = _split_key(m.name)
                    if key != cur_key:
                        if cur_key is not None:
                            flush(apath, cur_key, got, seen)
                        if key in seen:
                            raise WebDatasetError(
                                f"{apath}: key {key!r} reappears "
                                "non-adjacently — shard violates the "
                                "WebDataset adjacency rule")
                        cur_key, got = key, {}
                    if ext in got:
                        raise WebDatasetError(
                            f"{apath}: duplicate part {ext!r} for key "
                            f"{key!r}")
                    got[ext] = tar.extractfile(m).read()
                if cur_key is not None:
                    flush(apath, cur_key, got, seen)
            yield pd.DataFrame(out)

    return read_shards(spark, path, glob, _parse, schema)
