import hashlib
import os

from medallion import MedallionSources


def _digest(root):
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write(tmp_path, name, seed, delta=False):
    gen = MedallionSources(seed, scale=0.05)
    if delta:
        gen.apply_delta()
    gen.write(str(tmp_path / name))
    return _digest(tmp_path / name)


def test_same_seed_gives_byte_identical_sources(tmp_path):
    assert _write(tmp_path, "a", 7) == _write(tmp_path, "b", 7)
    assert _write(tmp_path, "c", 7, True) == _write(tmp_path, "d", 7, True)


def test_different_seed_or_delta_changes_sources(tmp_path):
    base = _write(tmp_path, "a", 7)
    assert _write(tmp_path, "b", 8) != base
    assert _write(tmp_path, "c", 7, True) != base


def test_reference_edge_cases_present(tmp_path):
    gen = MedallionSources(3, scale=0.05)
    paths = gen.write(str(tmp_path))
    with open(paths["emr"]["hospital_b_db"]["patients"]) as f:
        assert f.readline().strip().endswith("Updated_Date")
    a = gen.tables["hospital_a_db"]
    assert any(r[0] == "" for r in a["patients"])              # NULL key
    assert any(r[1] == "null" for r in a["patients"])          # sentinel
    assert any(r[9] == "badnum" for r in a["transactions"])    # bad numeric
    assert len({tuple(r) for r in a["encounters"]}) < len(a["encounters"])
    shared = ({r[0] for r in a["patients"]}
              & {r[0] for r in gen.tables["hospital_b_db"]["patients"]})
    assert shared - {""}                                       # shared keys


def test_delta_expectations():
    gen = MedallionSources(11, scale=0.05)
    run1 = gen.expected()
    assert all(v["closed"] == 0 for v in run1["scd2"].values())
    gen.apply_delta()
    run2 = gen.expected()
    for table, v in run2["scd2"].items():
        assert v["closed"] == len(v["changed"]) > 0
        assert v["rows"] > run1["scd2"][table]["rows"]   # appended keys
    landed = run2["landed"]
    assert landed[("hospital_a_db", "patients")] < run1["landed"][
        ("hospital_a_db", "patients")]                    # watermark filter
    assert landed[("hospital_a_db", "providers")] == run1["landed"][
        ("hospital_a_db", "providers")]                   # full reload
