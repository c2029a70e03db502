"""Training-data pipeline operators (dedup / similarity / text / multimodal).

Beyond the reference's own operator surface: the components a
large-scale training-data pipeline needs when the interleaved corpus
is the input to model training.  All hot paths are DataFrame/Catalyst;
Python appears only in Arrow-batched stages (hyperplane LSH
signatures, the ANN top-k kernel, multimodal feature extraction).
"""
