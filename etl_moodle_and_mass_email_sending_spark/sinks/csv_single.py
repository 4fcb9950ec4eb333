"""K1 — single-file CSV sink (reference app.py:273: ``to_csv(path,
index=False, encoding='utf-8')``).

The reference's output contract is ONE headered UTF-8 CSV file. Spark
writes a directory of part files; we coalesce(1) (fine for roster-sized
outputs — this is an edge sink, not a 100 TB path).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_csv_single(df: DataFrame, path: str) -> str:
    """Write ``df`` as exactly one headered CSV file at ``path``."""
    tmp = path + ".spark-tmp"
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("encoding", "UTF-8")
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path

