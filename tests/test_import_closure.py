"""Import closure: every engine module and the driver contract import
cleanly, and none of them loads a retired module."""

import importlib
import pkgutil
import sys
from pathlib import Path

import georip_spark
from georip_spark import codecs
from georip_spark.operators import jvm_clip, jvm_wkt

RETIRED = (
    "georip_spark.operators.multimodal", "georip_spark.avi", "georip_spark.jpeg",
)


def test_kept_modules_load_nothing_retired(monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1]))
    names = [
        m.name
        for m in pkgutil.walk_packages(georip_spark.__path__, "georip_spark.")
    ]
    assert "georip_spark.pipeline" in names
    for name in [*names, "__spark_entry__"]:
        importlib.import_module(name)
    assert [n for n in RETIRED if n in sys.modules] == []
    assert [a for a in dir(codecs) if a.startswith("wav_")] == []
    assert not hasattr(codecs, "sniff")
    # one clip arm, fed by the one WKT parse
    assert not hasattr(jvm_wkt, "may_have_holes")
    assert not hasattr(jvm_wkt, "rings_expr")
    assert not hasattr(jvm_clip, "clip_normalize_coords_mp")
