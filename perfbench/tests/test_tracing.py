"""Self time, layer time and the wrapping of module functions."""

import sys
import types

from perfbench.tracing import FORCE, OBSERVE, Span, Target, Tracer, instrument


def test_self_and_layer_times():
    t = Tracer(run="r")
    for args in (("run", None, 0.0, 10.0), ("layer", 0, 1.0, 6.0),
                 ("layer" + FORCE, 1, 2.0, 5.0), (OBSERVE, 1, 5.0, 6.0)):
        name, parent, start, end = args
        t.spans.append(Span(len(t.spans), name, parent, "r", start, end))
    own = t.self_times()
    assert own["run"] == 5.0 and own["layer"] == 1.0
    layers = t.layer_times()
    assert layers["layer"] == 4.0  # self time plus its forced output
    assert OBSERVE not in layers and "layer" + FORCE not in layers


def test_instrument_wraps_and_restores():
    home = types.ModuleType("pkgx.home")
    user = types.ModuleType("pkgx.user")
    home.f = lambda x: x + 1
    user.f = home.f  # imported by name
    orig = home.f
    sys.modules.update({"pkgx.home": home, "pkgx.user": user})
    try:
        t = Tracer(run="r")
        seen = []
        target = Target("pkgx.home", "f", "layer.f",
                        observe=lambda tr, a, k, out: seen.append(out))
        with instrument(t, [target], "pkgx"):
            assert user.f(1) == 2 and home.f(2) == 3
        assert home.f is orig and user.f is orig
        assert [s.name for s in t.spans] == ["layer.f", OBSERVE, "layer.f", OBSERVE]
        assert seen == [2, 3]
        assert all(s.run == "r" and s.end >= s.start for s in t.spans)
    finally:
        del sys.modules["pkgx.home"], sys.modules["pkgx.user"]
