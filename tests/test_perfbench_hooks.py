"""The traced benchmark run wraps named program functions from outside
(``perfbench/layers.install``). A hook whose target was moved or renamed
fails only there, so this installs every hook and checks that each one
took and that ``restore`` puts the originals back."""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
if PERFBENCH not in sys.path:
    sys.path.insert(0, PERFBENCH)


def test_perfbench_layer_hooks_install_and_restore(spark):
    import layers
    import tracing

    tracer = tracing.Tracer(spark)
    try:
        layers.install(tracer, layers._Counts(), spark)
        patched = list(tracer._patched)
        assert patched, "install patched nothing"
        for owner, attr, orig in patched:
            wrapper = getattr(owner, attr)
            assert wrapper is not orig and wrapper.__wrapped__ is orig, (owner, attr)
    finally:
        tracer.restore()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig, (owner, attr)
