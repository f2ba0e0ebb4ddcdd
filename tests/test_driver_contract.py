"""Two invariants of ``__spark_entry__``: ``queries()`` and ``oracle_sql()``
name the same operators (both read ``__spark_entry__.OPERATORS``), and
shipping the package is one idempotent step per SparkContext."""

from __future__ import annotations

import os
import sys
import tempfile

import __spark_entry__
from univer_ocr_spark.packaging import ZIP_NAME, ship_package


def test_queries_and_oracles_name_the_same_operators():
    names = list(__spark_entry__.queries())
    assert len(names) == len(set(names)) == 63
    assert set(__spark_entry__.oracle_sql()) == set(names)


def test_second_ship_package_is_a_no_op(spark):
    """The session fixture's ``get_spark`` already shipped the zip, so a
    further call neither rebuilds it nor adds a Python include or an entry
    on this process's ``sys.path``."""
    sc = spark.sparkContext
    zip_path = os.path.join(tempfile.gettempdir(), ZIP_NAME)
    ship_package(spark)
    includes, path, inode = list(sc._python_includes), list(sys.path), os.stat(zip_path).st_ino
    ship_package(spark)
    assert sc._python_includes == includes
    assert sys.path == path
    assert os.stat(zip_path).st_ino == inode
