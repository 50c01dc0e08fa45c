"""DataFrame-in / DataFrame-out ER operators: blocking, candidate
pairs, features, classify, clustering, evaluation and the rest. Import
each submodule directly."""
