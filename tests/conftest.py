import os

import pytest

from dmds_spark.session import get_spark

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="dmds_spark_tests", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s


def split_partition_files(world) -> int:
    """Fragment a World's layout the way a writer that spreads one
    partition over several tasks would: every parquet file the world
    currently reads that holds two or more rows is replaced by two
    files, its first and second half, with the same rows and the same
    schema. Only the partition dirs the current manifest maps are
    touched. Returns the number of files split."""
    import glob
    import uuid

    import pyarrow.parquet as pq

    owner = world._read_owner(world.current_version())
    dirs = [world._part_dir(k, world._version_dir(v)) for k, v in owner.items()]
    split = 0
    for d in sorted(dirs):
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            table = pq.ParquetFile(f).read()
            if table.num_rows < 2:
                continue
            half = table.num_rows // 2
            for k, part in enumerate((table.slice(0, half), table.slice(half))):
                out = os.path.join(d, f"part-split{k}-{uuid.uuid4().hex}.parquet")
                pq.write_table(part, out)
                assert pq.ParquetFile(out).schema_arrow == table.schema
            os.remove(f)
            crc = os.path.join(d, f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            split += 1
    world.invalidate_base_cache()
    return split


def steal_lock_on_write(monkeypatch, store_dir: str) -> None:
    """Make the next parquet write hand ``store_dir``'s writer lock to
    another holder: once the write finishes, the lock file carries a
    foreign token, as after a break or a lease reclaim while the
    writer was writing. Writes that run on several threads at once
    steal one after the other."""
    import json
    import threading

    from pyspark.sql import DataFrameWriter

    from dmds_spark.world import WriterLock

    real, one_at_a_time = DataFrameWriter.parquet, threading.Lock()

    def write_then_steal(self, *a, **kw):
        real(self, *a, **kw)
        lock = WriterLock.lock_path(store_dir)
        with one_at_a_time:
            with open(lock) as fh:
                holder = json.load(fh)
            with open(lock, "w") as fh:
                json.dump({**holder, "token": "someone-else"}, fh)

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_steal)
