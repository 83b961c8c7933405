import datagen


def test_same_seed_same_tables_and_sheets():
    names = datagen.WORKLOAD_TABLES["engine"]
    a, b = datagen.make_tables(7, names), datagen.make_tables(7, names)
    assert all(a[t].equals(b[t]) for t in names)
    assert datagen.pass_sheets(7, 2) == datagen.pass_sheets(7, 2)
    assert datagen.query_order(7, list("abcdef")) == datagen.query_order(7, list("abcdef"))


def test_other_seed_other_content_same_sizes():
    names = datagen.WORKLOAD_TABLES["engine"]
    a, b = datagen.make_tables(7, names), datagen.make_tables(8, names)
    for t in names:
        assert a[t].num_rows == b[t].num_rows == datagen.ROWS[t]
        assert a[t].schema == b[t].schema
    for t in ("orders", "lineitem", "documents"):
        assert not a[t].equals(b[t])
    sa, sb = datagen.pass_sheets(7, 0), datagen.pass_sheets(8, 0)
    assert [(n, len(r)) for n, r in sa] == [(n, len(r)) for n, r in sb]
    for (_, ra), (_, rb) in zip(sa, sb):
        assert ra != rb


def test_passes_upload_their_own_small_sheet_and_the_same_bulk_sheet():
    p0, p1 = datagen.pass_sheets(7, 0), datagen.pass_sheets(7, 1)
    assert [n for n, _ in p0] == ["small", "bulk"]
    assert p0[0][1] != p1[0][1] and len(p0[0][1]) == len(p1[0][1])
    assert p0[1][1] == p1[1][1]


def test_table_content_does_not_depend_on_the_subset_asked_for():
    full = datagen.make_tables(3, datagen.ROWS)
    part = datagen.make_tables(3, ["documents"])
    assert part["documents"].equals(full["documents"])


def test_sheets_hold_distinct_companies():
    for _, rows in datagen.pass_sheets(5, 0):
        assert len({name for name, _ in rows}) == len(rows)
        assert all(site.startswith("https://") for _, site in rows)
    order = datagen.query_order(5, list("abcdef"))
    assert sorted(order) == list("abcdef")
