"""Model-based check of the io pin-registry bookkeeping.

The Spark-backed tests in test_swap_cache.py prove the storage-level
contract on real frames; this one drives the REGISTRY logic through
randomized op sequences (swap / keyed checkpoint / bare-drain /
drain_all across two fake sessions) against a reference model, with
no JVM — so the state-space coverage is broad and the test is
milliseconds-fast.

Fake frames implement exactly the surface the registry touches:
``persist() -> self``, ``unpersist(bool)``, ``.sparkSession`` for
swap_cache; ``localCheckpoint()`` and the ``LogicalRDD`` release path
for checkpoint.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from fxblue_etl_spark import io as fio


class FakeSession:
    """Hashable, weakref-able stand-in for a SparkSession."""


class FakeDF:
    def __init__(self, session: FakeSession):
        self._session = session
        self.persisted = False

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self, _blocking=False):
        self.persisted = False
        return self

    @property
    def sparkSession(self):
        return self._session

    def localCheckpoint(self):
        return FakeCheckpoint(self._session)


class FakeCheckpoint(FakeDF):
    """A localCheckpoint'd frame: pinned on creation, released only
    through its plan's LogicalRDD."""

    def __init__(self, session: FakeSession):
        super().__init__(session)
        self.persisted = True

    def unpersist(self, _blocking=False):
        raise AssertionError("a checkpoint is released through its LogicalRDD")

    def queryExecution(self):
        return self

    def analyzed(self):
        return self

    def getClass(self):
        return self

    def getSimpleName(self):
        return "LogicalRDD"

    def rdd(self):
        return _FakeRDD(self)


class _FakeRDD:
    def __init__(self, frame: FakeCheckpoint):
        self._frame = frame

    def unpersist(self, _blocking=False):
        self._frame.persisted = False


SLOTS = ["s1", "s2", "s3"]

op_strategy = st.lists(
    st.one_of(
        st.tuples(
            st.just("swap"),
            st.sampled_from(SLOTS),
            st.integers(0, 1),  # which session
            st.integers(1, 3),  # how many frames
        ),
        st.tuples(
            st.just("checkpoint"),
            st.sampled_from(SLOTS),
            st.integers(0, 1),  # which session
            st.sampled_from([None, "k1", "k2"]),  # memo key (None: a fold)
        ),
        st.tuples(st.just("bare_drain"), st.sampled_from(SLOTS)),
        st.tuples(st.just("drain_session"), st.integers(0, 1)),
        st.tuples(st.just("drain_all")),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(ops=op_strategy)
def test_registry_matches_model(ops):
    sessions = [FakeSession(), FakeSession()]
    # model: (session index, slot) -> (key, list of live FakeDFs)
    model: dict[tuple[int, str], tuple] = {}
    all_frames: list[FakeDF] = []

    for op in ops:
        if op[0] == "swap":
            _, slot, si, n = op
            dfs = [FakeDF(sessions[si]) for _ in range(n)]
            all_frames.extend(dfs)
            out = fio.swap_cache(slot, *dfs)
            got = [out] if n == 1 else list(out)
            assert got == dfs
            model[(si, slot)] = (None, dfs)
        elif op[0] == "checkpoint":
            _, slot, si, key = op
            held = model.get((si, slot))
            built: list[FakeDF] = []

            def build():
                built.append(FakeDF(sessions[si]))
                return built[-1]

            out = fio.checkpoint(sessions[si], slot, build, key=key)
            if key is not None and held is not None and held[0] == key:
                assert not built and out is held[1][0], "same key must hit"
            else:
                assert built and isinstance(out, FakeCheckpoint)
                all_frames.append(out)
                model[(si, slot)] = (key, [out])
        elif op[0] == "bare_drain":
            _, slot = op
            fio.swap_cache(slot)
            for si in (0, 1):
                model.pop((si, slot), None)
        elif op[0] == "drain_session":
            _, si = op
            fio.drain_all(sessions[si])
            for key in [k for k in model if k[0] == si]:
                model.pop(key)
        else:
            fio.drain_all()
            model.clear()

        live = {id(df) for _, dfs in model.values() for df in dfs}
        for df in all_frames:
            assert df.persisted == (id(df) in live), (
                f"frame persisted={df.persisted} but model says "
                f"{'live' if id(df) in live else 'released'} after {op}"
            )

    fio.drain_all()  # leave no fake sessions behind for other tests
    assert all(not df.persisted for df in all_frames)
