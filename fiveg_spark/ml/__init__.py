"""Distributed re-expression of the reference training pipeline
(train.py): scaling, VAR OLS, sequence generation, the hybrid network
and its training.  ml/model.py holds the one network definition
(weights, forward, backward, Spark scorer); ml/train.py holds the
optimisation that fits it per slice.  Everything runs as Spark plans
with Arrow-batched numpy only where linear algebra genuinely can't be
expressed relationally.
"""
