"""Minimal numpy neural-net kit: MLP + Adam + manual backprop.

The reference's nets are ``torchtuples.practical.MLPVanilla(in_features,
[32, 32], out, batch_norm, dropout, output_bias=...)`` trained with Adam and
early stopping (reference src/elastic_surv/models/model_cox_ph.py:50-62).
torch is not available in this container, so the same architecture is
implemented directly in numpy (standard textbook forward/backward); the
surrounding dataflow (featurization, batching, inference, metrics) is Spark.

Everything is seeded and deterministic. float64 throughout (the reference
uses float32 tensors; float64 only tightens numerics). Inference
(``training=False``) is also row-independent: every dense layer sums its
products in one fixed order (:func:`fixed_order_matmul`), and every other
layer is elementwise, so a row's output is the same bits whatever other
rows share its batch. Training keeps BLAS's ``x @ W``.
"""

from __future__ import annotations

import numpy as np


def fixed_order_matmul(x: np.ndarray, W: np.ndarray) -> np.ndarray:
    """``x @ W`` summed left to right over the inner index:
    ``out[i] = (x[i, 0]·W[0] + x[i, 1]·W[1]) + … + x[i, k-1]·W[k-1]``, each
    product and each partial sum rounded once, the order of plain SQL's
    ``w0*x0 + w1*x1``. Elementwise numpy ops only, so an output row depends
    on its own input row alone. BLAS's GEMM/GEMV kernels round a matrix's
    trailing rows differently from its body rows, so there a row's value
    depends on the matrix it sits in; ``np.einsum`` with one output column
    reduces through SIMD partial sums, off this order. Cost: one vector op
    per input feature, 0.25 ms for a 128×30 @ 30×32 batch against BLAS's
    0.006 ms (4-vCPU AVX-512 Xeon, OpenBLAS 0.3.23)."""
    out = x[:, 0, None] * W[0]
    for j in range(1, W.shape[0]):
        out += x[:, j, None] * W[j]
    return out


class Dense:
    def __init__(self, rng: np.random.Generator, n_in: int, n_out: int, bias: bool = True):
        # Kaiming-uniform fan-in init (same family as torch.nn.Linear default)
        bound = 1.0 / np.sqrt(n_in)
        self.W = rng.uniform(-bound, bound, (n_in, n_out))
        self.b = rng.uniform(-bound, bound, n_out) if bias else None
        self.dW = np.zeros_like(self.W)
        self.db = np.zeros_like(self.b) if bias else None

    def forward(self, x, training: bool):
        """``x·W + b``. Training uses BLAS's ``x @ W``; inference sums in
        :func:`fixed_order_matmul`'s order, so a row scores the same bits
        in any batch (``score_per_group``'s Arrow batches, ``predict``'s
        partitions, the local test arrays)."""
        self._x = x
        out = x @ self.W if training else fixed_order_matmul(x, self.W)
        return out + self.b if self.b is not None else out

    def backward(self, g):
        self.dW = self._x.T @ g
        if self.b is not None:
            self.db = g.sum(axis=0)
        return g @ self.W.T

    def params(self):
        ps = [(self.W, self.dW)]
        if self.b is not None:
            ps.append((self.b, self.db))
        return ps


class ReLU:
    def forward(self, x, training: bool):
        self._mask = x > 0
        return x * self._mask

    def backward(self, g):
        return g * self._mask

    def params(self):
        return []


class Dropout:
    def __init__(self, rng: np.random.Generator, p: float):
        self.rng = rng
        self.p = p

    def forward(self, x, training: bool):
        if not training or self.p <= 0:
            self._mask = None
            return x
        self._mask = (self.rng.random(x.shape) >= self.p) / (1.0 - self.p)
        return x * self._mask

    def backward(self, g):
        return g if self._mask is None else g * self._mask

    def params(self):
        return []


class BatchNorm1d:
    def __init__(self, n: int, momentum: float = 0.1, eps: float = 1e-5):
        self.gamma = np.ones(n)
        self.beta = np.zeros(n)
        self.dgamma = np.zeros(n)
        self.dbeta = np.zeros(n)
        self.running_mean = np.zeros(n)
        self.running_var = np.ones(n)
        self.momentum = momentum
        self.eps = eps

    def forward(self, x, training: bool):
        if training and len(x) > 1:
            mu = x.mean(axis=0)
            var = x.var(axis=0)
            self.running_mean = (1 - self.momentum) * self.running_mean + self.momentum * mu
            self.running_var = (1 - self.momentum) * self.running_var + self.momentum * var
        else:
            mu, var = self.running_mean, self.running_var
        self._std = np.sqrt(var + self.eps)
        self._xhat = (x - mu) / self._std
        return self.gamma * self._xhat + self.beta

    def backward(self, g):
        n = len(g)
        self.dgamma = (g * self._xhat).sum(axis=0)
        self.dbeta = g.sum(axis=0)
        if n > 1:
            return (
                self.gamma
                / (n * self._std)
                * (n * g - self.dbeta - self._xhat * self.dgamma)
            )
        return g * self.gamma / self._std

    def params(self):
        return [(self.gamma, self.dgamma), (self.beta, self.dbeta)]


class MLP:
    """MLPVanilla shape: [Dense→ReLU→BN→Dropout]*hidden → Dense(out) —
    activation BEFORE batch norm, matching torchtuples' MLPVanilla block
    order (DenseVanillaBlock: Linear→activation→BatchNorm→Dropout), which
    the reference uses for every net."""

    def __init__(
        self,
        in_features: int,
        hidden: list[int],
        out_features: int,
        batch_norm: bool = True,
        dropout: float = 0.1,
        output_bias: bool = True,
        seed: int = 42,
    ):
        self.rng = np.random.default_rng(seed)
        self.layers: list = []
        prev = in_features
        for h in hidden:
            self.layers.append(Dense(self.rng, prev, h))
            self.layers.append(ReLU())
            if batch_norm:
                self.layers.append(BatchNorm1d(h))
            if dropout and dropout > 0:
                self.layers.append(Dropout(self.rng, dropout))
            prev = h
        self.layers.append(Dense(self.rng, prev, out_features, bias=output_bias))

    def forward(self, x, training: bool = False):
        for layer in self.layers:
            x = layer.forward(x, training)
        return x

    def backward(self, g):
        for layer in reversed(self.layers):
            g = layer.backward(g)
        return g

    def params(self):
        out = []
        for layer in self.layers:
            out.extend(layer.params())
        return out

    # ---- flat (de)serialization for broadcast / parameter averaging ----
    def get_weights(self) -> np.ndarray:
        """Trainable parameters only (what the optimizer updates)."""
        return np.concatenate([p.ravel() for p, _ in self.params()])

    def set_weights(self, flat: np.ndarray) -> None:
        i = 0
        for p, _ in self.params():
            p[...] = flat[i : i + p.size].reshape(p.shape)
            i += p.size

    def buffers(self) -> list[np.ndarray]:
        """Non-trainable inference state: BatchNorm running mean/var.

        torch's ``state_dict`` ships these alongside the weights; a net
        rebuilt from ``get_weights`` alone would run eval-mode BatchNorm
        against the init statistics (mean 0, var 1) instead of the trained
        ones. Everything that rebuilds a net remotely (predict broadcast,
        parameter averaging, save/load) must use ``get_state``/``set_state``.
        """
        out: list[np.ndarray] = []
        for layer in self.layers:
            if isinstance(layer, BatchNorm1d):
                out.append(layer.running_mean)
                out.append(layer.running_var)
        return out

    def get_state(self) -> np.ndarray:
        """Full flat state: trainable params followed by BN buffers."""
        return np.concatenate([self.get_weights()] + [b.ravel() for b in self.buffers()])

    def set_state(self, flat: np.ndarray) -> None:
        flat = np.asarray(flat, dtype=float)
        n_params = sum(p.size for p, _ in self.params())
        self.set_weights(flat[:n_params])
        i = n_params
        for b in self.buffers():
            b[...] = flat[i : i + b.size].reshape(b.shape)
            i += b.size
        if i != flat.size:
            raise ValueError(
                f"state vector has {flat.size} values, net expects {i}"
            )


class Adam:
    def __init__(self, net: MLP, lr: float = 1e-3, betas=(0.9, 0.999), eps: float = 1e-8):
        self.net = net
        self.lr = lr
        self.b1, self.b2 = betas
        self.eps = eps
        self.t = 0
        self.m = [np.zeros_like(p) for p, _ in net.params()]
        self.v = [np.zeros_like(p) for p, _ in net.params()]

    def step(self):
        self.t += 1
        for i, (p, g) in enumerate(self.net.params()):
            self.m[i] = self.b1 * self.m[i] + (1 - self.b1) * g
            self.v[i] = self.b2 * self.v[i] + (1 - self.b2) * g * g
            mhat = self.m[i] / (1 - self.b1**self.t)
            vhat = self.v[i] / (1 - self.b2**self.t)
            p -= self.lr * mhat / (np.sqrt(vhat) + self.eps)
