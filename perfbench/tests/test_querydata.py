import querydata


def test_same_sf_gives_identical_tables():
    a, b = querydata.build(0.001), querydata.build(0.001)
    assert sorted(a) == sorted(b) == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"])
    assert all(a[name].equals(b[name]) for name in a)


def test_row_counts_scale_with_sf():
    t = querydata.build(0.001)
    assert t["lineitem"].num_rows == 6_000
    assert t["orders"].num_rows == 1_500
    assert t["documents"].num_rows == 50
    assert t["nation"].num_rows == 25
