"""The sweep kernel, kept in a module of its own so Spark's Python
workers import it by reference without pulling in the benchmark.

``kernel`` is the opaque per-point function the Harvester evaluates;
``kernel_np`` is the same arithmetic over numpy arrays, used to build
the seed store and the closed-form checks.  Both evaluate the same
IEEE operations in the same order, so they agree bit for bit.
"""

N_SPEC = 8


def kernel(a, b, c, d, w0, w1, w2, w3):
    energy = w0 * a + w1 * b * b - w2 * c + w3 * d * a
    spec = [a * w1 + b * (j + 1) - c * d * w3 * j for j in range(N_SPEC)]
    return energy, spec


def kernel_np(a, b, c, d, w0, w1, w2, w3):
    """Vectorized ``kernel``: 1-d arrays in, (energy[n], spec[n, 8]) out."""
    import numpy as np

    energy = w0 * a + w1 * b * b - w2 * c + w3 * d * a
    j = np.arange(N_SPEC)
    spec = (
        (a * w1)[:, None] + b[:, None] * (j + 1)
        - ((c * d) * w3)[:, None] * j
    )
    return energy, spec
