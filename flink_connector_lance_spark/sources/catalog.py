"""Filesystem warehouse catalog (ref table/LanceCatalog.java).

Path layout ``warehouse/database/table`` with table detection by
``_versions/`` (ref :397, :492-493). Mirrors the reference's surface and
its refusals:

- create/drop/list/exists for databases (ref :224-361) and tables
  (ref :379-593); rename via filesystem move (ref Files.move, :560-578);
- schema inference on ``get_table`` from the dataset's own schema
  (ref :428-436);
- ALTER TABLE rejected (ref :582-593); partitions / stored functions /
  statistics unsupported (ref :595-728 — stats are UNKNOWN by design);
- ``register_table`` binds a table into the Spark session as a temp view
  so the full delegated-SQL surface runs over it (SURVEY.md §2.1-S9).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..options import S3Options, is_s3_path
from . import fragments as FR
from .reader import read_dataset


class CatalogError(RuntimeError):
    pass


class Unsupported(CatalogError):
    """Operations the reference explicitly refuses."""


class DatasetCatalog:
    """Warehouse catalog over a local directory or an S3 URI.

    S3 warehouses (``s3://`` / ``s3a://`` / ``s3n://`` — scheme detection
    mirrored from ref table/LanceCatalogS3Test.java) carry the mapped
    ``aws_*`` storage options (ref table/LanceCatalogFactory.java:148-176,
    applied at table/LanceCatalog.java:743-773) for the native Lance
    layer. On the emulated backend, S3 support is gated on fsspec/s3fs
    (sources/fs.py): listing/detection/manifests go through fsspec, data
    reads go through the Python DataSource whose workers open fragments
    via fsspec with these credentials, and the lifecycle mutations
    (create/drop database, drop table) run through the same plane — a
    database is a key prefix pinned by a zero-byte ``.database`` marker,
    a drop is a recursive prefix delete. This is parity-PLUS: the
    reference advertises the S3 catalog (LanceCatalog.java:77-96) but
    its own mutations would fail there (``Paths.get``/``Files.move`` on
    an s3 URI, :518/:549). ``rename_table`` stays a loud refusal on
    s3:// — object stores have no atomic multi-key rename, and a
    copy+delete window that can lose a concurrent commit is worse than
    an error. When fsspec is absent every remote call degrades with the
    same clear error."""

    def __init__(self, warehouse: str, default_database: str = "default",
                 s3: S3Options | None = None):
        self.warehouse = warehouse
        self.default_database = default_database
        self.s3 = s3
        self.is_remote = is_s3_path(warehouse)
        self.storage_options = (s3 or S3Options()).to_storage_options() if self.is_remote else {}
        if not self.is_remote:
            os.makedirs(os.path.join(warehouse, default_database), exist_ok=True)

    def _refuse_remote_rename(self) -> None:
        """rename_table stays local-only: object stores have no atomic
        multi-key rename — a copy+delete emulation leaves a window where
        a concurrent writer's commit lands in the doomed prefix and is
        silently lost. Say so instead (create/drop DO work remotely)."""
        if self.is_remote:
            raise Unsupported(
                "rename_table on an S3 warehouse: object stores have no "
                "atomic rename, and a copy+delete emulation can lose a "
                "concurrent commit — copy to a new table "
                "(write_dataset(get_table(...), new_path)) and drop_table "
                "the old one instead"
            )

    def _store(self):
        """The warehouse's store (sources/fs.py), or a clear refusal when
        an S3 warehouse has no fsspec/s3fs (the pre-round-5 behavior)."""
        from .fs import RemoteUnavailableError, store_for

        try:
            return store_for(self.warehouse, self.storage_options)
        except RemoteUnavailableError as e:
            raise Unsupported(str(e)) from e

    # -- databases (ref LanceCatalog.java:224-361) --------------------------

    def _db_path(self, db: str) -> str:
        return os.path.join(self.warehouse, db)

    def list_databases(self) -> list[str]:
        store = self._store()
        return sorted(d for d in store.ls(self.warehouse)
                      if store.isdir(self._db_path(d)))

    def database_exists(self, db: str) -> bool:
        return self._store().isdir(self._db_path(db))

    def create_database(self, db: str, ignore_if_exists: bool = False) -> None:
        if self.database_exists(db):
            if ignore_if_exists:
                return
            raise CatalogError(f"database already exists: {db}")
        if self.is_remote:
            # object stores have no directories: the database is a key
            # prefix, pinned into existence (and into isdir/listings) by
            # a zero-byte marker object
            with self._store().open(self._db_path(db) + "/.database",
                                    "wb") as fh:
                fh.write(b"")
            return
        os.makedirs(self._db_path(db))

    def drop_database(self, db: str, ignore_if_not_exists: bool = False,
                      cascade: bool = False) -> None:
        if not self.database_exists(db):
            if ignore_if_not_exists:
                return
            raise CatalogError(f"database does not exist: {db}")
        if self.list_tables(db) and not cascade:
            raise CatalogError(f"database not empty: {db}")
        # recursive delete (on s3fs one bulk delete of every key under
        # the prefix)
        self._store().rm(self._db_path(db), recursive=True)

    # -- tables (ref LanceCatalog.java:379-593) -----------------------------

    def _table_path(self, db: str, table: str) -> str:
        return os.path.join(self.warehouse, db, table)

    def list_tables(self, db: str | None = None) -> list[str]:
        db = db or self.default_database
        if not self.database_exists(db):
            raise CatalogError(f"database does not exist: {db}")
        store = self._store()
        return sorted(
            t for t in store.ls(self._db_path(db))
            if FR.is_dataset(self._table_path(db, t), self.storage_options)
        )

    def table_exists(self, db: str, table: str) -> bool:
        self._store()  # clear refusal when fsspec is absent
        return FR.is_dataset(self._table_path(db, table), self.storage_options)

    def table_location(self, db: str, table: str) -> str:
        return self._table_path(db, table)

    def drop_table(self, db: str, table: str, ignore_if_not_exists: bool = False) -> None:
        if not self.table_exists(db, table):
            if ignore_if_not_exists:
                return
            raise CatalogError(f"table does not exist: {db}.{table}")
        self._store().rm(self._table_path(db, table), recursive=True)

    def rename_table(self, db: str, table: str, new_name: str) -> None:
        """Filesystem move (ref LanceCatalog.java:560-578). Loud refusal
        on s3:// — no atomic multi-key rename exists there."""
        self._refuse_remote_rename()
        if not self.table_exists(db, table):
            raise CatalogError(f"table does not exist: {db}.{table}")
        dst = self._table_path(db, new_name)
        if os.path.exists(dst):
            raise CatalogError(f"table already exists: {db}.{new_name}")
        shutil.move(self._table_path(db, table), dst)

    def get_table(self, spark: SparkSession, db: str, table: str,
                  version: int | None = None) -> DataFrame:
        """Schema inferred from the dataset itself (ref :428-436). Remote
        tables read through the Python DataSource (format "lance"): its
        data plane is Python/Arrow, so each worker opens its fragment via
        fsspec with the catalog's credentials — no hadoop-aws needed."""
        if not self.table_exists(db, table):
            raise CatalogError(f"table does not exist: {db}.{table}")
        if self.is_remote:
            from .datasource import register_lance_datasource

            register_lance_datasource(spark)
            reader = spark.read.format("lance")
            for k, v in ((self.s3 or S3Options()).to_option_map()).items():
                reader = reader.option(k, v)
            if version is not None:
                reader = reader.option("version", str(version))
            return reader.load(self._table_path(db, table))
        return read_dataset(spark, self._table_path(db, table), version=version)

    def register_table(self, spark: SparkSession, db: str, table: str,
                       view_name: str | None = None) -> DataFrame:
        df = self.get_table(spark, db, table)
        df.createOrReplaceTempView(view_name or table)
        return df

    # -- explicit refusals, matching the reference --------------------------

    def alter_table(self, *_args, **_kwargs):
        raise Unsupported("ALTER TABLE is not supported (ref LanceCatalog.java:582-593)")

    def create_function(self, *_args, **_kwargs):
        raise Unsupported(
            "stored functions are not supported; register session-scope UDTFs "
            "instead (ref LanceCatalog.java:648-678)"
        )

    def get_table_statistics(self, *_args, **_kwargs):
        """ref LanceCatalog.java:683-704 — statistics are UNKNOWN."""
        return None

    def list_partitions(self, *_args, **_kwargs):
        raise Unsupported("partitions are not supported (ref LanceCatalog.java:595-646)")
