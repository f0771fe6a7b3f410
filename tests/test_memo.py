"""The memo-and-persist lifecycle: bound, release, key rule, counters."""

from youcruit_tap_rawpostgresql_spark.memo import Memo, SessionKey, session_key


class _Handle:
    """Stands in for a cached frame or broadcast: records its release."""

    def __init__(self):
        self.released = False

    def unpersist(self, blocking=False):
        self.released = True


def test_fifo_bound_drops_oldest_and_counts():
    m = Memo("test.fifo", bound=2)
    built = []

    def build(v):
        return lambda: built.append(v) or v

    assert m.get("a", build(1)) == 1
    assert m.get("b", build(2)) == 2
    assert m.get("a", build(99)) == 1  # hit: not rebuilt
    assert m.get("c", build(3)) == 3  # evicts "a", the oldest
    assert len(m) == 2 and m.peek("a") is None
    assert m.get("a", build(4)) == 4  # rebuilt after eviction
    assert built == [1, 2, 3, 4]
    assert (m.hits, m.misses) == (1, 4)
    # a None key is built every time and never stored
    assert m.get(None, build(5)) == 5
    assert len(m) == 2 and m.misses == 5


def test_release_on_evict_replace_and_clear(spark):
    m = Memo("test.release", bound=1)
    a = m.get("a", lambda: spark.range(10).persist())
    a.count()
    assert a.storageLevel.useMemory
    b = m.get("b", lambda: spark.range(20).persist())  # evicts a
    b.count()
    assert not a.storageLevel.useMemory and b.storageLevel.useMemory
    h1, h2 = _Handle(), _Handle()
    m.put("b", lambda: h1)  # replacing under a key releases the old value
    assert not b.storageLevel.useMemory
    m.put("c", lambda: h2)
    assert h1.released and not h2.released
    m.clear()
    assert h2.released and len(m) == 0 and (m.hits, m.misses) == (0, 0)


def test_insert_releases_other_applications(spark):
    m = Memo("test.apps", bound=64)
    dead, other_key, live = _Handle(), _Handle(), _Handle()
    m.put((SessionKey("app-dead", "s1"), "x"), lambda: dead)
    m.put("not-session-keyed", lambda: other_key)
    m.put((session_key(spark), "x"), lambda: live)
    assert dead.released  # its application is gone
    assert not other_key.released and not live.released
    assert len(m) == 2


def test_new_session_gets_its_own_tables(spark, sf_dir):
    from youcruit_tap_rawpostgresql_spark.memo import MEMOS
    from youcruit_tap_rawpostgresql_spark.querybank.registry import tables

    memo = MEMOS["registry.tables"]
    first = tables(spark, sf_dir)
    misses = memo.misses
    assert tables(spark, sf_dir) is first and memo.misses == misses
    other = spark.newSession()
    assert session_key(other) != session_key(spark)
    theirs = tables(other, sf_dir)
    assert memo.misses == misses + 1 and theirs is not first
    # the new session's temp views were registered in that session
    assert other.sql("SELECT count(*) FROM orders").first()[0] == first[
        "orders"
    ].count()
