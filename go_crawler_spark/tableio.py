"""Checkpoint table IO: one parquet directory per table under a workdir.

The crawl loop's per-round state (enqueue/gate/fetched logs + a manifest)
goes through :class:`ParquetTableIO`: every table publishes atomically by
write-to-temp + rename, an in-place rewrite (compaction) by a staged copy
and two renames that ``recover_replaces`` heals after a crash, and the
manifest — the round's commit point — by a temp file, ``fsync`` and
``os.replace``. Writes share the retry + observed-metrics contract of
``_run_write``.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from go_crawler_spark.config import RetryConfig
from go_crawler_spark.operators.retrying import retry_call


def _run_write(df: DataFrame, publish, retry_cfg, observe, obs_out) -> None:
    """Write protocol: optional observed metrics + retry around an atomic
    publish callable."""

    def action() -> None:
        out_df = df
        obs = None
        if observe is not None:
            from pyspark.sql import Observation

            obs = Observation()
            out_df = df.observe(obs, *observe)
        publish(out_df)
        if obs is not None and obs_out is not None:
            obs_out.clear()
            obs_out.update(obs.get)

    if retry_cfg is not None:
        retry_call(action, retry_cfg)
    else:
        action()


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable: the schema
    Spark gives a parquet read, whatever the written frame declared."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


class ParquetTableIO:
    """Parquet-directory backend (workdir/<name>/ per table)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        # schema of every table this instance published or has already
        # read, seeded from the manifest's record: a parquet read given its
        # schema skips Spark's footer-inference job. Forgotten whenever the
        # files behind a name change.
        self._schemas: dict[str, StructType] = {}
        for entry in (self._manifest_file() or {}).get("schemas", []):
            schema = StructType.fromJson(entry["schema"])
            for n in entry["tables"]:
                self._schemas[n] = schema

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def write(
        self,
        df: DataFrame,
        name: str,
        retry_cfg: Optional[RetryConfig] = None,
        observe: Optional[list] = None,
        obs_out: Optional[dict] = None,
    ) -> DataFrame:
        path = self._path(name)

        def publish(out_df: DataFrame) -> None:
            tmp = path + "._tmp"
            out_df.write.mode("overwrite").parquet(tmp)
            if os.path.exists(path):
                shutil.rmtree(path)
            os.rename(tmp, path)

        self._schemas.pop(name, None)
        _run_write(df, publish, retry_cfg, observe, obs_out)
        self._schemas[name] = _nullable(df.schema)
        return self.read(name)

    def replace(
        self,
        df: DataFrame,
        name: str,
        retry_cfg: Optional[RetryConfig] = None,
    ) -> DataFrame:
        """Crash-safe IN-PLACE replace of an existing table whose new
        content is *derived from the old* (compaction). ``write``'s
        publish (rmtree old, then rename tmp) has a window where neither
        copy exists — and a crash there would let ``cleanup_staging``
        delete the ``._tmp`` holding the only merged copy. Here:

        1. stage the full merged copy to ``name._tmp`` (inputs, including
           the old table, stay readable; the retry wraps ONLY this step,
           so a replayed plan still finds its sources);
        2. rename old aside to ``name._old`` (atomic);
        3. rename ``._tmp`` into place (atomic);
        4. drop ``._old``.

        Every intermediate state is healed by ``recover_replaces`` (run
        first inside ``cleanup_staging``): an ``._old`` present means the
        commit sequence started, and either the new copy (``name`` or a
        complete ``._tmp``) wins or the old is restored — the table is
        never lost."""
        path = self._path(name)
        tmp, old = path + "._tmp", path + "._old"
        if os.path.exists(old):  # heal any earlier torn replace first
            self.recover_replaces()

        def stage(out_df: DataFrame) -> None:
            out_df.write.mode("overwrite").parquet(tmp)

        _run_write(df, stage, retry_cfg, None, None)
        # commit sequence: two atomic renames, then cleanup
        self._schemas.pop(name, None)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        self._schemas[name] = _nullable(df.schema)
        if os.path.exists(old):
            shutil.rmtree(old)
        return self.read(name)

    def recover_replaces(self) -> None:
        """Heal torn ``replace`` commits (presence of a ``._old`` dir).
        Called before staging cleanup so a merged ``._tmp`` that already
        reached the commit sequence is promoted, not deleted.

        A ``._old`` exists only after the staged copy completed (the
        rename-aside is the first post-stage step), so whichever of
        ``name`` / ``._tmp`` is present is a complete merged copy; if
        neither survived, the old table is restored verbatim."""
        for d in list(os.listdir(self.workdir)):
            if not d.endswith("._old"):
                continue
            name = d[: -len("._old")]
            self._schemas.pop(name, None)
            path, old, tmp = self._path(name), self._path(d), self._path(name) + "._tmp"
            if os.path.exists(path):
                shutil.rmtree(old)  # crashed after step 3
            elif os.path.exists(tmp):
                os.rename(tmp, path)  # crashed between steps 2 and 3
                shutil.rmtree(old)
            else:
                os.rename(old, path)  # staged copy lost: restore the old

    def read(self, *names: str) -> DataFrame:
        """Read one table, or the union of several: one scan per distinct
        schema, unioned by column name (a column some tables lack reads
        NULL there). A table the manifest does not record (one written
        before the manifest carried schemas) has its schema inferred once,
        by one Spark job; every other read launches none."""
        groups: dict[StructType, list[str]] = {}
        for n in names:
            groups.setdefault(self.schema(n), []).append(self._path(n))
        frames = [self.spark.read.schema(schema).parquet(*paths)
                  for schema, paths in groups.items()]
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)

    def schema(self, name: str) -> StructType:
        """The table's schema: recorded, or inferred once by one Spark
        job for a table the manifest does not record."""
        if name not in self._schemas:
            self._schemas[name] = self.spark.read.parquet(self._path(name)).schema
        return self._schemas[name]

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    def list_names(self, prefix: str = "") -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.workdir)
            if d.startswith(prefix)
            and not d.endswith("._tmp") and not d.endswith("._old")
            and os.path.isdir(self._path(d))
        )

    def delete(self, name: str) -> None:
        self._schemas.pop(name, None)
        p = self._path(name)
        if os.path.exists(p):
            shutil.rmtree(p)

    def delete_stale(self, name: str) -> None:
        """Remove a table AND any torn staging/rename-aside copy of it."""
        self.delete(name)
        for suffix in ("._tmp", "._old"):
            p = self._path(name) + suffix
            if os.path.exists(p):
                shutil.rmtree(p)

    def cleanup_staging(self) -> None:
        """Heal torn ``replace`` commits FIRST (their ``._tmp`` may hold
        the only copy of a compacted table), then drop orphaned ``._tmp``
        staging dirs (a plain write that died before its atomic rename)."""
        self.recover_replaces()
        for d in os.listdir(self.workdir):
            if d.endswith("._tmp"):
                shutil.rmtree(os.path.join(self.workdir, d), ignore_errors=True)

    def _manifest_file(self) -> Optional[dict]:
        p = os.path.join(self.workdir, "MANIFEST.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def get_manifest(self) -> Optional[dict]:
        """The last published manifest, as the caller put it."""
        man = self._manifest_file()
        if man is not None:
            man.pop("schemas", None)
        return man

    def put_manifest(self, manifest: dict) -> None:
        """Publish the manifest atomically: a crash mid-write leaves the
        previous manifest in place, never a truncated one. It also records
        the schema of every table in the workdir this instance knows,
        grouped by schema, so a later instance reads them with no
        inference job."""
        groups: dict[StructType, list[str]] = {}
        for n in self.list_names():
            if n in self._schemas:
                groups.setdefault(self._schemas[n], []).append(n)
        manifest = dict(manifest, schemas=[
            {"schema": schema.jsonValue(), "tables": names}
            for schema, names in groups.items()
        ])
        path = os.path.join(self.workdir, "MANIFEST.json")
        tmp = path + "._tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
