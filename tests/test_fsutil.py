"""Driver-side sidecar I/O (timely_spark.fsutil) — the one sidecar
format of every persisted artifact.

The contract every persistent index (IvfPq / Decon / MinHash), the
store layout and the hot-cache archive rely on: a dict of parameters
round-trips byte-exactly through the Hadoop FileSystem API (doubles via
shortest-repr JSON) and missing files read as None.
"""

from timely_spark.fsutil import sidecar_read_json, sidecar_write_json


def test_sidecar_json_roundtrip_exact(spark, tmp_path):
    path = str(tmp_path / "model.json")
    obj = {
        "dim": 64,
        "m": 16,
        "threshold": 0.8500000000000001,  # repr-exact double
        "codebook": [0.1, -2.5e-17, 3.0],
        "name": "ivfpq",
        "none_field": None,
    }
    sidecar_write_json(spark, path, obj)
    back = sidecar_read_json(spark, path)
    assert back == obj
    # doubles survive BYTE-exactly (shortest-repr JSON round trip)
    assert back["threshold"].hex() == obj["threshold"].hex()
    assert [v.hex() for v in back["codebook"]] == [
        v.hex() for v in obj["codebook"]
    ]


def test_sidecar_overwrite_and_missing(spark, tmp_path):
    path = str(tmp_path / "model.json")
    assert sidecar_read_json(spark, path) is None  # missing -> None
    sidecar_write_json(spark, path, {"v": 1})
    sidecar_write_json(spark, path, {"v": 2})  # overwrite, not append
    assert sidecar_read_json(spark, path) == {"v": 2}
